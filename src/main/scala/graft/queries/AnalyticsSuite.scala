package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.gas.Graphs
import graft.rdf.{QuadStore, Term}
import graft.rules.RDFS
import graft.search.FullText

/** Inference + full-text + graph-analytics operators, oracle-gated.
  *
  * Graph inputs are derived deterministically from the test tables:
  *  - part–supplier bipartite graph from lineitem (undirected; supplier
  *    node ids offset by 1,000,000),
  *  - per-user event chains from events (consecutive events linked).
  */
object AnalyticsSuite {

  private val G = "http://g/"

  /** Bipartite part–supplier edges (both directions) with min-quantity
    * weight per pair.
    */
  private def psEdges(s: SparkSession, d: String): DataFrame =
    Catalog.table(s, d, "ps_edges") {
      val li = Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(min(col("l_quantity").cast(LongType)).as("weight"))
      val fwd = li.select(col("pk").as("src"), (col("sk") + 1000000L).as("dst"), col("weight"))
      fwd.unionByName(li.select((col("sk") + 1000000L).as("src"), col("pk").as("dst"),
                                col("weight")))
    }

  /** Per-user event chains: event → next event of the same user (by ts,
    * event_id), both directions.
    */
  private def chainEdges(s: SparkSession, d: String): DataFrame =
    Catalog.table(s, d, "chain_edges") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.load(s, d, "events")
        .withColumn("nxt", lead(col("event_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
      ev.select(col("event_id").as("src"), col("nxt").as("dst"))
        .unionByName(ev.select(col("nxt").as("src"), col("event_id").as("dst")))
    }

  /** Class/property schema quads over customers for the RDFS closure:
    * customers typed by segment class; segment ⊑ Customer ⊑ Party;
    * locatedIn ⊑ within; domain(locatedIn)=Located, range(locatedIn)=Place.
    */
  private def classQuads(s: SparkSession, d: String): DataFrame = {
    val base = RdfSuite.buildQuads(s, d)
    val cust = Tables.load(s, d, "customer")
    val typeT = QuadStore.tripleize(cust,
      Term.iri(concat(lit(G + "c"), col("c_custkey"))),
      Seq(RDFS.RdfType -> Term.iri(concat(lit(G + "seg_"), col("c_mktsegment")))))
    val segs = cust.select(col("c_mktsegment")).distinct()
    val sco = QuadStore.tripleize(segs,
      Term.iri(concat(lit(G + "seg_"), col("c_mktsegment"))),
      Seq(RDFS.SubClassOf -> Term.iri(G + "Customer")))
    val one = cust.limit(1)
    val axioms = QuadStore.fromTriples(Seq(
      QuadStore.tripleize(one, Term.iri(G + "Customer"),
        Seq(RDFS.SubClassOf -> Term.iri(G + "Party"))),
      QuadStore.tripleize(one, Term.iri(G + "locatedIn"),
        Seq(RDFS.SubPropertyOf -> Term.iri(G + "within"),
            RDFS.Domain -> Term.iri(G + "Located"),
            RDFS.Range -> Term.iri(G + "Place")))))
    base.unionByName(typeT).unionByName(sco).unionByName(axioms)
  }

  /** RDFS-closed store: the reference materializes inference at load/commit
    * (InferenceEngine/Truth Maintenance), so the closure is a Catalog
    * artifact, not per-query work.
    */
  def closedStore(s: SparkSession, d: String): DataFrame =
    Catalog.table(s, d, "rdfs_closed")(RDFS.closure(classQuads(s, d)))

  /** Full-text index over documents — built at load like BDS's text index
    * (LexiconRelation's full-text index is populated on statement load).
    */
  def ftsIndex(s: SparkSession, d: String): DataFrame =
    Catalog.table(s, d, "fts_index") {
      FullText.buildIndex(
        Tables.load(s, d, "documents").select(col("doc_id").as("doc"), col("text")))
    }

  /** The load-time tf postings plus their corpus stats side tables (df,
    * doc set) — the one definition of these Catalog artifacts.
    */
  def tfIndex(s: SparkSession, d: String): (DataFrame, FullText.TfStats) = {
    val tf = Catalog.table(s, d, "fts_tf_index") {
      FullText.buildTfIndex(
        Tables.load(s, d, "documents").select(col("doc_id").as("doc"), col("text")))
    }
    (tf, FullText.TfStats(
      Catalog.table(s, d, "fts_tf_df") {
        tf.groupBy("term").agg(count_distinct(col("doc")).as("df")) },
      Catalog.table(s, d, "fts_tf_docs") { tf.select("doc").distinct() }))
  }

  /** BM25's load-time artifacts — [[tfIndex]] plus the per-doc length
    * table. Shared by fts_bm25 and the hybrid RRF retrieval query
    * (queries.Pipeline).
    */
  def tfArtifacts(s: SparkSession, d: String)
      : (DataFrame, FullText.TfStats, DataFrame) = {
    val (tf, stats) = tfIndex(s, d)
    val dl = Catalog.table(s, d, "fts_doc_len") {
      tf.groupBy("doc").agg(sum(col("tf")).as("dl")) }
    (tf, stats, dl)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "rdfs_closure_types" -> ((s, d) => {
      closedStore(s, d).filter(col("p") === Term.iri(RDFS.RdfType))
        .groupBy(Term.lex(col("o")).as("cls"))
        .agg(count(lit(1)).as("n"))
        .orderBy("cls")
    }),

    "rdfs_subproperty_infer" -> ((s, d) => {
      closedStore(s, d).filter(col("p") === Term.iri(G + "within"))
        .select(Term.lex(col("s")).as("s"), Term.lex(col("o")).as("o"))
        .orderBy("s", "o")
    }),

    "fts_search" -> ((s, d) => {
      FullText.search(ftsIndex(s, d), Seq("spark", "join", "fast"),
                      minCosine = 0.0, maxRank = 20)
        .orderBy("rank")
    }),

    "fts_lang_postings" -> ((s, d) => {
      // language-aware analysis (DefaultAnalyzerFactory): each doc
      // tokenizes with the analyzer its lang tag selects — en gets
      // stopwords + minimal plural stemming, de/fr/es their stopword
      // lists over the unicode splitter, zh the CJK-bigram form — as a
      // union of one filtered branch per analyzer, which adds no shuffle
      // (see FullText.tfPostingsByLang)
      FullText.tfPostingsByLang(
        Tables.load(s, d, "documents")
          .select(col("doc_id").as("doc"), col("text"), col("lang")))
        .orderBy("term", "doc")
    }),

    "fts_search_tf" -> ((s, d) => {
      // the incrementally-maintainable index form: raw tf postings with
      // query-time weighting — must score identically to fts_search. The
      // corpus stats (N, df) are load-time side tables like the index
      // itself: a query touches postings only through the term filter and
      // the matched docs' norm rows, never a full-index aggregation.
      val (tf, stats) = tfIndex(s, d)
      FullText.searchTf(tf, Seq("spark", "join", "fast"),
                        minCosine = 0.0, maxRank = 20, stats = Some(stats))
        .orderBy("rank")
    }),

    "fts_bm25" -> ((s, d) => {
      // BM25 over the same load-time tf index + additive side tables
      // (df, docs, per-doc length) — query-time cost is the query terms'
      // postings plus vocabulary/side-table joins, never a full-index pass
      val (tf, stats, dl) = tfArtifacts(s, d)
      FullText.searchBm25(tf, Seq("spark", "join", "fast"), maxRank = 20,
                          stats = Some(stats), docLens = Some(dl))
        .orderBy("rank")
    }),

    "owl_transitive_locatedin" -> ((s, d) => {
      // declare locatedIn transitive; the OWL closure derives
      // customer→region hops through nations. Output: entities located
      // (directly or transitively) in each region. The closed store is a
      // load-time Catalog artifact like the RDFS closure.
      val closed = Catalog.table(s, d, "owl_closed") {
        val base = RdfSuite.buildQuads(s, d)
        val one = Tables.load(s, d, "customer").limit(1)
        val axiom = QuadStore.tripleize(one, Term.iri(G + "locatedIn"),
          Seq(RDFS.RdfType -> Term.iri(graft.rules.Owl.TransitiveProperty)))
        graft.rules.Owl.closure(base.unionByName(axiom))
      }
      val regions = closed.filter(col("p") === Term.iri(G + "name") &&
                                  Term.lex(col("s")).startsWith(G + "r"))
        .select(col("s").as("rkey"), Term.lex(col("o")).as("region"))
      closed.filter(col("p") === Term.iri(G + "locatedIn") &&
                    Term.lex(col("o")).startsWith(G + "r"))
        .join(regions, col("o") === col("rkey"))
        .groupBy("region").agg(count(lit(1)).as("n"))
        .orderBy("region")
    }),

    "owl_equivalence_merge" -> ((s, d) => {
      // owl:equivalentClass / equivalentProperty / hasValue over the store:
      //  - regions typed g:Region0, axiom Region0 eqc Zone → regions typed Zone
      //  - axiom locatedIn eqp hasSeat → every locatedIn fact doubled
      //  - restriction InRegion0 (onProperty locatedIn, hasValue r0) with
      //    customers typed InRegion0 → each customer gains locatedIn r0
      // Closure is a load-time Catalog artifact like the other rule stores.
      val closed = Catalog.table(s, d, "owl_equiv_closed") {
        val base = RdfSuite.buildQuads(s, d)
        val reg = Tables.load(s, d, "region")
        val cust = Tables.load(s, d, "customer")
        val one = reg.limit(1)
        val regT = QuadStore.tripleize(reg,
          Term.iri(concat(lit(G + "r"), col("r_regionkey"))),
          Seq(RDFS.RdfType -> Term.iri(G + "Region0")))
        val custT = QuadStore.tripleize(cust,
          Term.iri(concat(lit(G + "c"), col("c_custkey"))),
          Seq(RDFS.RdfType -> Term.iri(G + "InRegion0")))
        val ax = Seq(
          QuadStore.tripleize(one, Term.iri(G + "Region0"),
            Seq(graft.rules.Owl.EquivalentClass -> Term.iri(G + "Zone"))),
          QuadStore.tripleize(one, Term.iri(G + "locatedIn"),
            Seq(graft.rules.Owl.EquivalentProperty -> Term.iri(G + "hasSeat"))),
          QuadStore.tripleize(one, Term.iri(G + "InRegion0"), Seq(
            RDFS.RdfType -> Term.iri(graft.rules.Owl.Restriction),
            graft.rules.Owl.OnProperty -> Term.iri(G + "locatedIn"),
            graft.rules.Owl.HasValue -> Term.iri(G + "r0")))
        ).reduce(_ unionByName _)
        graft.rules.Owl.closure(
          base.unionByName(regT).unionByName(custT).unionByName(ax))
      }
      def kindCount(name: String, cond: org.apache.spark.sql.Column) =
        closed.filter(cond).agg(count(lit(1)).as("n"))
          .select(lit(name).as("kind"), col("n"))
      kindCount("has_seat", col("p") === Term.iri(G + "hasSeat"))
        .unionByName(kindCount("located_r0",
          col("p") === Term.iri(G + "locatedIn") && col("o") === Term.iri(G + "r0")))
        .unionByName(kindCount("zone_members",
          col("p") === Term.iri(RDFS.RdfType) && col("o") === Term.iri(G + "Zone")))
        .orderBy("kind")
    }),

    "graph_bfs" -> ((s, d) => {
      val src = s.range(1).select(lit(1L).as("node"))
      Graphs.bfs(psEdges(s, d), src, maxDepth = 3).orderBy("node")
    }),

    "graph_sssp" -> ((s, d) => {
      Graphs.sssp(psEdges(s, d), source = 1L, maxHops = 3).orderBy("node")
    }),

    "graph_cc" -> ((s, d) => {
      Graphs.connectedComponents(chainEdges(s, d)).orderBy("node")
    }),

    "graph_pagerank" -> ((s, d) => {
      Graphs.pagerank(psEdges(s, d), iters = 5).orderBy("node")
    }),

    // GraphX-backed variants (same contracts, Pregel execution).
    // CC input is the event↔user star graph: identical components to the
    // chain graph but diameter 2 — GraphX's Pregel loop is O(diameter),
    // so feeding it 100-hop chains would burn 100 supersteps.
    "graphx_cc" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), (col("user_id") + 1000000000L).as("unode"))
      val edges = ev.select(col("event_id").as("src"), col("unode").as("dst"))
        .unionByName(ev.select(col("unode").as("src"), col("event_id").as("dst")))
      graft.gas.GraphXBackend.connectedComponents(edges)
        .filter(col("node") < 1000000000L) // event nodes only
        .orderBy("node")
    }),

    "graphx_bfs_hops" -> ((s, d) => {
      graft.gas.GraphXBackend.hopDistances(psEdges(s, d), source = 1L).orderBy("node")
    }),

    "graph_triangles" -> ((s, d) => {
      // co-order part graph (parts sharing an order are linked): the
      // bipartite and chain graphs are triangle-free by construction, so
      // the triangle op gets the one deterministic test graph with cliques.
      // Every 10th order only: the FULL co-order projection is classically
      // dense (its wedge volume, the O(E^1.5) term triangle counting is
      // inherently bound by, hits ~1e9 at sf0.1 — honest work, wrong size
      // for a bench query); input selection is the dial, the operator is
      // general
      val li = Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.as("x").join(li.as("y"), "o")
        .filter(col("x.p") =!= col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Graphs.triangleCounts(edges).orderBy("node")
    }),

    "graph_clustering_coeff" -> ((s, d) => {
      // local clustering coefficient over the same sampled co-order graph,
      // micro-unit exact (2·tri·1e6 div deg·(deg−1))
      val li = Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.as("x").join(li.as("y"), "o")
        .filter(col("x.p") =!= col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Graphs.clusteringCoefficients(edges).orderBy("node")
    })
  )

  /** DuckDB: part–supplier edge CTEs. */
  private val edgeSql =
    """pair AS (SELECT l_partkey AS pk, 1000000 + l_suppkey AS sk,
         MIN(CAST(l_quantity AS BIGINT)) AS weight
       FROM lineitem GROUP BY 1, 2),
       e AS (SELECT pk AS src, sk AS dst, weight FROM pair
             UNION ALL SELECT sk, pk, weight FROM pair)"""

  /** Integer PageRank iteration chain (no aggregates allowed in a recursive
    * CTE, so the fixed iteration count unrolls to chained CTEs).
    */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (SELECT n.node,
            150000000000 + (85 * COALESCE(s.inflow, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN (
            SELECT ed.dst AS node, SUM(p.rank // ed.deg) AS inflow
            FROM pr${i - 1} p JOIN edeg ed ON p.node = ed.src
            GROUP BY ed.dst) s ON n.node = s.node)"""
    }.mkString(",\n")
    s"""WITH $edgeSql,
       edeg AS (SELECT e.src, e.dst, d.deg FROM e JOIN
                (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1) d USING (src)),
       nodes AS (SELECT DISTINCT src AS node FROM e
                 UNION SELECT DISTINCT dst FROM e),
       pr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
       $steps
       SELECT node, CAST(rank AS BIGINT) AS rank FROM pr$iters ORDER BY node"""
  }

  private val oraclesBase: Map[String, String] = Map(
    "rdfs_closure_types" ->
      """SELECT cls, n FROM (
           SELECT 'http://g/seg_' || c_mktsegment AS cls, COUNT(*) AS n
           FROM customer GROUP BY 1
           UNION ALL SELECT 'http://g/Customer', COUNT(*) FROM customer
           UNION ALL SELECT 'http://g/Party', COUNT(*) FROM customer
           UNION ALL SELECT 'http://g/Located',
             (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM nation)
           UNION ALL SELECT 'http://g/Place',
             (SELECT COUNT(*) FROM nation) + (SELECT COUNT(*) FROM region))
         ORDER BY cls""",

    "rdfs_subproperty_infer" ->
      """SELECT s, o FROM (
           SELECT 'http://g/c' || c_custkey AS s, 'http://g/n' || c_nationkey AS o
           FROM customer
           UNION ALL
           SELECT 'http://g/n' || n_nationkey, 'http://g/r' || n_regionkey
           FROM nation)
         ORDER BY s, o""",

    "owl_transitive_locatedin" ->
      """SELECT region, n FROM (
           SELECT r_name AS region, COUNT(*) AS n FROM (
             SELECT r.r_name FROM customer c
               JOIN nation n ON c_nationkey = n_nationkey
               JOIN region r ON n.n_regionkey = r.r_regionkey
             UNION ALL
             SELECT r.r_name FROM nation n
               JOIN region r ON n.n_regionkey = r.r_regionkey)
           GROUP BY 1)
         ORDER BY region""",

    "owl_equivalence_merge" ->
      """SELECT kind, n FROM (
           SELECT 'has_seat' AS kind,
             (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM nation)
             + (SELECT COUNT(*) FROM customer) AS n
           UNION ALL
           SELECT 'located_r0',
             (SELECT COUNT(*) FROM customer)
             + (SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
           UNION ALL
           SELECT 'zone_members', (SELECT COUNT(*) FROM region))
         ORDER BY kind""",

    "fts_lang_postings" -> {
      def inList(ws: Set[String]) = ws.toSeq.sorted.map(w => s"'$w'").mkString(", ")
      val A = graft.search.FullText.Analyzer
      // DuckDB rendering of an analyzer's char folds + ordered suffix stem
      // rules — generated from the SAME rule data the Spark pipeline uses,
      // so the two sides cannot drift. Folds apply to every token (the
      // ELSE arm included); stem conditions evaluate on the folded form,
      // exactly like the Column pipeline.
      def stemCase(a: graft.search.FullText.Analyzer): String = {
        val ft = a.charFolds.foldLeft("t") { case (e, (from, to)) =>
          s"replace($e, '$from', '$to')"
        }
        val whens = a.stemRules.map { case (sfx, repl) =>
          val r = if (repl.isEmpty) "" else s" || '$repl'"
          s"WHEN len($ft) >= ${a.stemMinLen + sfx.length} AND $ft LIKE '%$sfx' " +
            s"THEN substr($ft, 1, len($ft) - ${sfx.length})$r"
        }.mkString(" ")
        s"CASE $whens ELSE $ft END"
      }
      s"""WITH en_tok AS (
           SELECT doc, CASE WHEN len(t) >= 4 AND t LIKE '%s'
                             AND NOT (t LIKE '%ss' OR t LIKE '%us' OR t LIKE '%is')
                       THEN substr(t, 1, len(t) - 1) ELSE t END AS term
           FROM (SELECT doc_id AS doc,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
                 FROM documents WHERE lang = 'en')
           WHERE len(t) > 0 AND t NOT IN (${inList(A.english.stopwords)})),
         uni AS (
           SELECT doc, lang, t FROM (
             SELECT doc_id AS doc, lang,
               unnest(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+')) AS t
             FROM documents WHERE lang <> 'en')
           WHERE len(t) > 0),
         other_tok AS (
           SELECT doc,
             CASE WHEN lang = 'de' THEN ${stemCase(A.german)}
                  WHEN lang = 'fr' THEN ${stemCase(A.french)}
                  WHEN lang = 'es' THEN ${stemCase(A.spanish)}
                  ELSE t END AS term
           FROM uni
           WHERE NOT (lang = 'de' AND t IN (${inList(A.german.stopwords)}))
             AND NOT (lang = 'fr' AND t IN (${inList(A.french.stopwords)}))
             AND NOT (lang = 'es' AND t IN (${inList(A.spanish.stopwords)}))),
         allt AS (SELECT doc, term FROM en_tok
                  UNION ALL SELECT doc, term FROM other_tok)
         SELECT term, doc, COUNT(*) AS tf FROM allt
         GROUP BY 1, 2 ORDER BY term, doc"""
    },

    // BM25 (k1=1.2, b=0.75, Lucene +1 idf floor) over the tf postings;
    // N and avgdl derive from the distinct docs actually indexed
    "fts_bm25" ->
      """WITH tok AS (SELECT doc_id AS doc,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    t -> len(t) > 0)) AS term
           FROM documents),
         tf AS (SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         dfr AS (SELECT term, COUNT(DISTINCT doc) AS df FROM tf GROUP BY 1),
         dl AS (SELECT doc, SUM(tf) AS dl FROM tf GROUP BY 1),
         st AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                       COUNT(*) AS n FROM dl),
         sc AS (SELECT m.doc,
                  ROUND(SUM(
                    ln((CAST(st.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
                    * (m.tf * 2.2)
                    / (m.tf + 1.2 * (0.25 + (0.75 * l.dl) / st.avgdl))), 6)
                    AS score
                FROM tf m JOIN dfr d USING (term) JOIN dl l ON m.doc = l.doc
                  CROSS JOIN st
                WHERE m.term IN ('spark', 'join', 'fast')
                GROUP BY 1)
         SELECT doc, score, rank FROM (
           SELECT doc, score,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS BIGINT) AS rank
           FROM sc)
         WHERE rank <= 20 ORDER BY rank""",

    "fts_search" ->
      """WITH tok AS (SELECT doc_id AS doc,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    t -> len(t) > 0)) AS term
           FROM documents),
         tf AS (SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         dfr AS (SELECT term, COUNT(DISTINCT doc) AS df FROM tf GROUP BY 1),
         idx AS (SELECT term, doc, tf,
                   (1.0 + ln(tf)) * ln((SELECT COUNT(*) FROM documents) / df) AS w
                 FROM tf JOIN dfr USING (term)),
         dn AS (SELECT doc, sqrt(SUM(w * w)) AS dnorm FROM idx GROUP BY 1),
         sc AS (SELECT i.doc, ROUND(SUM(i.w) / (d.dnorm * sqrt(3.0)), 6) AS score
                FROM idx i JOIN dn d ON i.doc = d.doc
                WHERE i.term IN ('spark', 'join', 'fast')
                GROUP BY i.doc, d.dnorm)
         SELECT doc, score, rank FROM (
           SELECT doc, score,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS BIGINT) AS rank
           FROM sc)
         WHERE rank <= 20 ORDER BY rank""",

    "graph_bfs" ->
      s"""WITH RECURSIVE $edgeSql,
         bfs(node, d) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION
           SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
           WHERE bfs.d < 3)
         SELECT node, CAST(MIN(d) AS BIGINT) AS depth FROM bfs
         GROUP BY node ORDER BY node""",

    "graph_sssp" ->
      s"""WITH RECURSIVE $edgeSql,
         walk(node, dist, hops) AS (
           SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
           UNION
           SELECT e.dst, walk.dist + e.weight, walk.hops + 1
           FROM walk JOIN e ON e.src = walk.node
           WHERE walk.hops < 3)
         SELECT node, MIN(dist) AS dist FROM walk GROUP BY node ORDER BY node""",

    "graph_cc" ->
      """SELECT event_id AS node,
           MIN(event_id) OVER (PARTITION BY user_id) AS component
         FROM events
         WHERE user_id IN (SELECT user_id FROM events
                           GROUP BY user_id HAVING COUNT(*) > 1)
         ORDER BY node""",

    "graph_pagerank" -> pagerankSql(5),

    "graphx_cc" ->
      """SELECT event_id AS node,
           MIN(event_id) OVER (PARTITION BY user_id) AS component
         FROM events ORDER BY node""",

    "graphx_bfs_hops" ->
      s"""WITH RECURSIVE $edgeSql,
         bfs(node, d) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION
           SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
           WHERE bfs.d < 8)
         SELECT node, CAST(MIN(d) AS BIGINT) AS depth FROM bfs
         GROUP BY node ORDER BY node""",

    // degree-ordered wedge closure: each triangle materializes once at its
    // (deg, id)-smallest vertex, then explodes to its three corners
    "graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_orderkey % 10 = 0),
         und AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p),
         deg AS (SELECT v, COUNT(*) AS d FROM (
                   SELECT a AS v FROM und
                   UNION ALL SELECT b AS v FROM und) GROUP BY 1),
         ori AS (SELECT
               CASE WHEN da.d < db.d OR (da.d = db.d AND n.a < n.b)
                    THEN n.a ELSE n.b END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND n.a < n.b)
                    THEN n.b ELSE n.a END AS w,
               CASE WHEN da.d < db.d OR (da.d = db.d AND n.a < n.b)
                    THEN db.d ELSE da.d END AS dw
             FROM und n JOIN deg da ON n.a = da.v JOIN deg db ON n.b = db.v),
         tri AS (SELECT l.u, l.w AS x, r.w AS y
             FROM ori l JOIN ori r ON l.u = r.u
               AND (l.dw < r.dw OR (l.dw = r.dw AND l.w < r.w))
             JOIN ori e ON e.u = l.w AND e.w = r.w)
         SELECT node, COUNT(*) AS n_tri FROM (
           SELECT u AS node FROM tri
           UNION ALL SELECT x FROM tri
           UNION ALL SELECT y FROM tri)
         GROUP BY 1 ORDER BY 1""",

    // same wedge closure, normalized per vertex: deg >= 2 vertices only,
    // coefficient in exact micro-units
    "graph_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_orderkey % 10 = 0),
         und AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p),
         deg AS (SELECT v, COUNT(*) AS d FROM (
                   SELECT a AS v FROM und
                   UNION ALL SELECT b AS v FROM und) GROUP BY 1),
         ori AS (SELECT
               CASE WHEN da.d < db.d OR (da.d = db.d AND n.a < n.b)
                    THEN n.a ELSE n.b END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND n.a < n.b)
                    THEN n.b ELSE n.a END AS w,
               CASE WHEN da.d < db.d OR (da.d = db.d AND n.a < n.b)
                    THEN db.d ELSE da.d END AS dw
             FROM und n JOIN deg da ON n.a = da.v JOIN deg db ON n.b = db.v),
         tri AS (SELECT l.u, l.w AS x, r.w AS y
             FROM ori l JOIN ori r ON l.u = r.u
               AND (l.dw < r.dw OR (l.dw = r.dw AND l.w < r.w))
             JOIN ori e ON e.u = l.w AND e.w = r.w),
         tc AS (SELECT node, COUNT(*) AS n_tri FROM (
                  SELECT u AS node FROM tri
                  UNION ALL SELECT x FROM tri
                  UNION ALL SELECT y FROM tri) GROUP BY 1)
         SELECT deg.v AS node, CAST(deg.d AS BIGINT) AS deg,
           CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
           (2 * COALESCE(tc.n_tri, 0) * 1000000) // (deg.d * (deg.d - 1))
             AS cc_micro
         FROM deg LEFT JOIN tc ON deg.v = tc.node
         WHERE deg.d >= 2 ORDER BY node"""
  )

  /** The incremental tf-postings path must score identically to the
    * batch-weighted index, so it shares fts_search's oracle.
    */
  val oracles: Map[String, String] =
    oraclesBase + ("fts_search_tf" -> oraclesBase("fts_search"))
}
