package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.gas.Graphs
import graft.rdf.{NTriples, Term}
import graft.rules.RDFS
import graft.search.FullText
import graft.util.Bounded

/** Unit semantics for inference, search, and graph analytics on tiny
  * hand-computed fixtures.
  */
class AnalyticsSpec extends SparkSpecBase {

  private def edgesOf(pairs: (Long, Long)*): DataFrame =
    spark.createDataset(pairs)(Encoders.product[(Long, Long)])
      .toDF("src", "dst")

  private def undirected(pairs: (Long, Long)*): DataFrame =
    edgesOf(pairs: _*).unionByName(edgesOf(pairs.map(_.swap): _*))

  test("RDFS closure: subclass transitivity, domain/range, subproperty") {
    val EX = "http://ex/"
    val nt = Seq(
      s"""<${EX}dog1> <${RDFS.RdfType}> <${EX}Dog> .""",
      s"""<${EX}Dog> <${RDFS.SubClassOf}> <${EX}Mammal> .""",
      s"""<${EX}Mammal> <${RDFS.SubClassOf}> <${EX}Animal> .""",
      s"""<${EX}hasPet> <${RDFS.SubPropertyOf}> <${EX}likes> .""",
      s"""<${EX}hasPet> <${RDFS.Domain}> <${EX}Person> .""",
      s"""<${EX}hasPet> <${RDFS.Range}> <${EX}Animal> .""",
      s"""<${EX}ann> <${EX}hasPet> <${EX}dog1> .""")
    val quads = NTriples.parseLines(spark,
      spark.createDataset(nt)(Encoders.STRING).toDF("value"))
    val closed = RDFS.closure(quads)
    def has(s: String, p: String, o: String): Boolean =
      !closed.filter(col("s") === Term.iri(s) && col("p") === Term.iri(p) &&
                     col("o") === Term.iri(o)).isEmpty
    assert(has(EX + "dog1", RDFS.RdfType, EX + "Mammal"))   // rdfs9
    assert(has(EX + "dog1", RDFS.RdfType, EX + "Animal"))   // rdfs9 via rdfs11
    assert(has(EX + "Dog", RDFS.SubClassOf, EX + "Animal")) // rdfs11
    assert(has(EX + "ann", EX + "likes", EX + "dog1"))      // rdfs7
    assert(has(EX + "ann", RDFS.RdfType, EX + "Person"))    // rdfs2
    assert(has(EX + "dog1", RDFS.RdfType, EX + "Animal"))   // rdfs3+9
    // the backchained type view covers subclass inheritance (not domain/
    // range derivation) and never exceeds the materialized closure
    val bc = RDFS.typesWithInference(quads)
    val mat = closed.filter(col("p") === Term.iri(RDFS.RdfType)).select("s", "o")
    assert(bc.except(mat).isEmpty)
    def bcHas(s: String, o: String): Boolean =
      !bc.filter(col("s") === Term.iri(s) && col("o") === Term.iri(o)).isEmpty
    assert(bcHas(EX + "dog1", EX + "Mammal") && bcHas(EX + "dog1", EX + "Animal"))
  }

  test("full-text: exact-match doc ranks first, minCosine filters") {
    val docs = spark.createDataset(Seq(
        (1L, "spark joins data fast"),
        (2L, "spark spark spark everywhere"),
        (3L, "slow tortoise walks"),
        (4L, "fast spark query")))(Encoders.product[(Long, String)])
      .toDF("doc", "text")
    val idx = FullText.buildIndex(docs)
    val hits = FullText.search(idx, Seq("fast", "spark"), 0.0, 10).collect()
    val ranks = hits.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!ranks.contains(3L)) // no query terms
    assert(ranks(4L) == 1)      // both terms, short doc
    val top = FullText.search(idx, Seq("fast", "spark"), 0.0, 1)
    assert(top.count() == 1)
  }

  test("BFS: hop counts on a diamond with a shortcut") {
    //  1->2->4, 1->3->4->5 ; BFS(1): 2,3 at depth1, 4 at 2, 5 at 3
    val e = edgesOf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L)
    val d = Graphs.bfs(e, spark.range(1).select(lit(1L).as("node")), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("SSSP beats BFS path when weights differ") {
    // 1->2 (w10), 1->3 (w1), 3->2 (w1): shortest 1->2 = 2 via 3
    val e = spark.createDataset(Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L)))(
        Encoders.product[(Long, Long, Long)]).toDF("src", "dst", "weight")
    val d = Graphs.sssp(e, 1L, 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(2L) == 2L && d(3L) == 1L)
  }

  test("connected components: a long chain converges via pointer jumping") {
    // chain 10..30 plus isolated pair 100-101
    val chain = (10L until 30L).map(i => i -> (i + 1))
    val e = undirected(chain :+ (100L -> 101L): _*)
    val cc = Graphs.connectedComponents(e, maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 30L).forall(cc(_) == 10L))
    assert(cc(100L) == 100L && cc(101L) == 100L)
  }

  test("connected components: distributed loop above the local bound, " +
       "bit-identical labels on both paths") {
    // force the distributed fixpoint by shrinking the local-edge bound to
    // zero, then compare against the default (local union-find) path: the
    // 100 TB fallback must stay alive and agree label-for-label
    val chain = (10L until 40L).map(i => i -> (i + 1))
    val e = undirected(chain ++ Seq(100L -> 101L, 101L -> 102L): _*)
    val local = Graphs.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Bounded.strategy("cc") == "local")
    spark.conf.set(Graphs.CcLocalMaxEdgesConf, "0")
    try {
      val dist = Graphs.connectedComponents(e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Bounded.strategy("cc") == "distributed")
      assert(dist == local)
      assert((10L to 40L).forall(dist(_) == 10L))
    } finally spark.conf.unset(Graphs.CcLocalMaxEdgesConf)
  }

  test("connected components: bound 0 takes the distributed loop even on " +
       "an empty edge frame") {
    spark.conf.set(Graphs.CcLocalMaxEdgesConf, "0")
    try {
      assert(Graphs.connectedComponents(edgesOf()).collect().isEmpty)
      assert(Bounded.strategy("cc") == "distributed")
    } finally spark.conf.unset(Graphs.CcLocalMaxEdgesConf)
  }

  /** The (node, value) rows `run` gives at the default bound and at bound
    * 0, after checking that the first ran the driver executor and the
    * second the distributed one, that they agree, and that no node has two
    * rows.
    */
  private def onBothExecutors(site: String)(run: => DataFrame): Map[Long, Long] = {
    def result(): Map[Long, Long] = {
      val rows = run.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.map(_._1).distinct.length == rows.length, rows.toSeq)
      rows.toMap
    }
    val local = result()
    assert(Bounded.strategy(site) == "local")
    spark.conf.set(Graphs.GraphLocalMaxEdgesConf, "0")
    try {
      val dist = result()
      assert(Bounded.strategy(site) == "distributed")
      assert(dist == local)
    } finally spark.conf.unset(Graphs.GraphLocalMaxEdgesConf)
    local
  }

  private def weightedEdgesOf(edges: (Long, Long, Long)*): DataFrame =
    spark.createDataset(edges)(Encoders.product[(Long, Long, Long)])
      .toDF("src", "dst", "weight")

  test("bfs: distributed loop above the local bound agrees bit-for-bit, " +
       "including out-of-graph sources and the depth cap") {
    //  1->2->4->5->6 with shortcut 1->3->4; node 6 is beyond maxDepth 3
    //  from source 1; source 999 is not in the graph (depth-0 row only)
    val e = edgesOf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    def bfs(edges: DataFrame, sources: Seq[Long], maxDepth: Int) =
      onBothExecutors("bfs")(Graphs.bfs(edges,
        spark.createDataset(sources)(Encoders.scalaLong).toDF("node"), maxDepth))
    val reached = Map(1L -> 0L, 999L -> 0L, 2L -> 1L, 3L -> 1L,
                      4L -> 2L, 5L -> 3L) // 6 beyond the cap
    assert(bfs(e, Seq(1L, 999L), 3) == reached)
    // a duplicated source is one source, in or out of the graph
    assert(bfs(e, Seq(1L, 999L, 1L, 999L), 3) == reached)
    // round cap 0, and no edges: the sources alone
    assert(bfs(e, Seq(1L, 999L), 0) == Map(1L -> 0L, 999L -> 0L))
    assert(bfs(edgesOf(), Seq(1L, 999L), 3) == Map(1L -> 0L, 999L -> 0L))
  }

  test("sssp: distributed loop above the local bound agrees bit-for-bit, " +
       "including parallel edges and the hop cap") {
    // parallel edges 1->2 (w10, w7); cheaper 3-hop detour 1->3->4->2 (w3)
    // needs all 3 hops; 2->5 puts 5 at 4 hops via the detour but 2 hops
    // via the w7 edge — the hop cap must keep the 2-hop value
    val e = weightedEdgesOf((1L, 2L, 10L), (1L, 2L, 7L), (1L, 3L, 1L),
                            (3L, 4L, 1L), (4L, 2L, 1L), (2L, 5L, 1L))
    def sssp(edges: DataFrame, source: Long, maxHops: Int) =
      onBothExecutors("sssp")(Graphs.sssp(edges, source, maxHops))
    assert(sssp(e, 1L, 3) == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L, 5L -> 8L))
    // source outside the graph, round cap 0, and no edges: the source alone
    assert(sssp(e, 42L, 3) == Map(42L -> 0L))
    assert(sssp(e, 1L, 0) == Map(1L -> 0L))
    assert(sssp(weightedEdgesOf(), 1L, 3) == Map(1L -> 0L))
    // zero weights reach 4 at 0 in round 2; the negative edge 4->2 lowers
    // the already-reached 2 (5 in round 1) to -10 in round 3, and 5 follows
    // in round 4 — an executor that settles a node on its first visit
    // keeps 2 -> 5
    val neg = weightedEdgesOf((1L, 2L, 5L), (1L, 3L, 0L), (3L, 4L, 0L),
                              (4L, 2L, -10L), (2L, 5L, 1L))
    assert(sssp(neg, 1L, 3) == Map(1L -> 0L, 2L -> -10L, 3L -> 0L, 4L -> 0L, 5L -> 6L))
    assert(sssp(neg, 1L, 4) == Map(1L -> 0L, 2L -> -10L, 3L -> 0L, 4L -> 0L, 5L -> -9L))
    // in round 2, 2->3 lowers 3 from 5 to 2 while 3 sends: 3 must send the
    // 5 it held after round 1, or 4 gets the 3-hop value 3 under a 2-hop cap
    val lowered = weightedEdgesOf((1L, 2L, 1L), (1L, 3L, 5L), (2L, 3L, 1L), (3L, 4L, 1L))
    assert(sssp(lowered, 1L, 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 6L))
  }

  test("pagerank: distributed loop above the local bound agrees rank-for-rank " +
       "on an asymmetric graph with a dangling node and a duplicate edge") {
    // 4 is dangling (dst only); duplicate 1->2 must dedup before degrees
    val e = edgesOf(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L, 2L -> 1L)
    def pagerank(edges: DataFrame, iters: Int) =
      onBothExecutors("pagerank")(Graphs.pagerank(edges, iters))
    val ranks = pagerank(e, 4)
    // 2 and 4 each receive exactly half of 1's rank (equal by symmetry); 1
    // additionally drains 3 and half of 2, so it sits above the dangling node
    assert(ranks == Map(1L -> 773733984375L, 2L -> 492702734375L,
                        3L -> 373264453125L, 4L -> 492702734375L))
    // round cap 0: every node at the initial rank; no edges: no nodes
    assert(pagerank(e, 0) == Map(1L -> 1000000000000L, 2L -> 1000000000000L,
                                 3L -> 1000000000000L, 4L -> 1000000000000L))
    assert(pagerank(edgesOf(), 4).isEmpty)
  }

  test("graph programs: a Long overflow throws ArithmeticException on both " +
       "executors") {
    def throwsAtBothBounds(run: => DataFrame): Unit = {
      intercept[ArithmeticException](run.collect())
      spark.conf.set(Graphs.GraphLocalMaxEdgesConf, "0")
      try intercept[ArithmeticException](run.collect())
      finally spark.conf.unset(Graphs.GraphLocalMaxEdgesConf)
    }
    // 1 -> 2 costs Long.MaxValue - 1, so 3 would sit at Long.MaxValue + 4
    throwsAtBothBounds(Graphs.sssp(
      weightedEdgesOf((1L, 2L, Long.MaxValue - 1L), (2L, 3L, 5L)), 1L, 3))
    // 200k leaves send the hub 2e17 rank units, and 85 times that is past
    // Long.MaxValue
    throwsAtBothBounds(Graphs.pagerank(
      spark.range(200000).select((col("id") + 2L).as("src"), lit(1L).as("dst")), 1))
  }

  test("triangle counts: K4 corners sit in 3 triangles; wedges close to none") {
    // K4 on 1-4 (4 triangles, each vertex in C(3,2)=3) plus an OPEN wedge
    // 4-5, 5-6 (no closing edge: 5 and 6 must not appear) and a self-loop
    // + duplicate edge that the canonicalization must drop
    val e = undirected(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 5L -> 6L, 2L -> 1L /* dup */, 6L -> 6L /* loop */)
    val t = Graphs.triangleCounts(e)
    t.collect() // AQE finalizes
    val m = t.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // every join in the wedge closure is equi-keyed — a nested-loop here
    // is the O(V·E) plan that cannot survive a power-law graph
    val p = t.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"triangle closure degraded to a non-equi join:\n$p")
    // clustering coefficients in exact micro-units: K4 interior = 1.0 for
    // 1-3, 0.5 for 4 (one non-adjacent neighbor pair per pair through 5),
    // open-wedge center 5 = 0, degree-1 node 6 omitted
    val cc = Graphs.clusteringCoefficients(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(cc(1L) == (3L, 1000000L) && cc(2L) == (3L, 1000000L) &&
           cc(3L) == (3L, 1000000L))
    assert(cc(4L) == (4L, 500000L))
    assert(cc(5L) == (2L, 0L))
    assert(!cc.contains(6L))
  }

  test("integer pagerank: symmetric graph gives equal ranks, sink-free") {
    // triangle: every node identical by symmetry
    val e = undirected(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val pr = Graphs.pagerank(e, 5).collect().map(_.getLong(1)).toSet
    assert(pr.size == 1) // all equal
  }
}
