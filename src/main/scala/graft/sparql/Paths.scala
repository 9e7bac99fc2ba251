package graft.sparql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.rdf.Term
import graft.util.Bounded
import Algebra._

/** Property-path compilation and fixpoint evaluation.
  *
  * Fixed-length connectives (`/`, `|`, `^`, `!(...)`) rewrite to
  * joins/unions at compile time, mirroring ASTPropertyPathOptimizer
  * (/root/reference/bigdata-rdf/src/java/com/bigdata/rdf/sparql/ast/
  * optimizers/ASTPropertyPathOptimizer.java). Arbitrary-length paths run a
  * **semi-naive** transitive-closure loop — the frontier (new pairs only)
  * joins the edge set each round — replacing ArbitraryLengthPathOp's
  * solution re-circulation (bigdata/src/java/com/bigdata/bop/paths/
  * ArbitraryLengthPathOp.java:58-84).
  *
  * Scale posture: each round is a shuffle join on `dst`; the frontier is
  * localCheckpoint()ed to truncate lineage, and dedup against `seen` keeps
  * the frontier minimal (cycles terminate). The driver only sees counts.
  */
object Paths {

  /** Zero-length-path domain dialect. SPARQL 1.1 REC §18.4 evaluates a
    * zero-length path over ALL nodes of the graph (every subject/object,
    * literals included — W3C pp05/pp13 pin this); the reference's
    * ZeroLengthPathOp restricts it to the vertices of the path's own edge
    * relation (its property-paths-6 fixture pins THAT). Default is the
    * REC; the reference-compat suite flips this to mirror the reference.
    */
  @volatile var zeroLengthOverAllTerms: Boolean = true

  /** Compile a path over the quad store into a distinct pair DataFrame of
    * term structs, scoped to a graph context: `None` = default graph
    * (c IS NULL), `Some(C(g))` = one named graph, `Some(V(n))` = every named
    * graph separately — the result then carries a third column `g` and the
    * closure/join machinery keys on it, so a path never crosses graphs
    * (GRAPH ?g { ?s p+ ?o } semantics).
    */
  def compile(quads: DataFrame, path: Path, graph: Option[Pat] = None): DataFrame =
    graph match {
      case Some(V(_)) => compilePerGraph(quads.filter(col("c").isNotNull), path)
      case Some(C(t)) => compileFlat(quads.filter(col("c") === t), path)
      case _          => compileFlat(quads.filter(col("c").isNull), path)
    }

  /** Single-graph compilation: `scoped` is already filtered to one graph
    * context, pairs are (src, dst).
    */
  private def compileFlat(scoped: DataFrame, path: Path): DataFrame = path match {
    case Link(iri) =>
      scoped.filter(col("p") === Term.iri(iri))
        .select(col("s").as("src"), col("o").as("dst"))
    case Inv(p) =>
      compileFlat(scoped, p).select(col("dst").as("src"), col("src").as("dst"))
    case PSeq(a, b) =>
      val l = compileFlat(scoped, a)
      val r = compileFlat(scoped, b).withColumnRenamed("src", "mid")
      // fixed-length connectives keep BAG semantics (a sequence path is
      // BGP-equivalent: two routes through different mids = two solutions,
      // W3C pp11/pp20); only the *, +, ? closures are set-based
      val joined = l.join(r, l("dst") === r("mid")).select(l("src"), r("dst"))
      // a zero-length-capable side zero-matches beyond its own identity
      // pairs only at terms with NO (n,n) row (the reference's ticket-734
      // cases: `rdf:type/rdfs:subClassOf*` must hold when the class has no
      // subclass edges; under the REC all-terms domain the identity rows
      // cover everything). Passing pairs through only for UNCOVERED
      // endpoints keeps the join from double-counting (734-B dup bug).
      val throughB =
        if (admitsZeroLength(b)) {
          val covered = r.filter(col("mid") <=> col("dst"))
            .select(col("mid").as("n")).distinct()
          Seq(l.join(covered, l("dst") <=> col("n"), "left_anti")
            .select("src", "dst"))
        } else Nil
      val throughA =
        if (admitsZeroLength(a)) {
          val covered = l.filter(col("src") <=> col("dst"))
            .select(col("src").as("n")).distinct()
          Seq(r.join(covered, r("mid") <=> col("n"), "left_anti")
            .select(col("mid").as("src"), col("dst")))
        } else Nil
      (Seq(joined) ++ throughB ++ throughA).reduce(_ unionByName _)
    case Alt(a, b) =>
      compileFlat(scoped, a).unionByName(compileFlat(scoped, b))
    case ZeroLength(p) =>
      if (zeroLengthOverAllTerms) zeroDomain(scoped, null)
      else endpointIdentity(compileFlat(scoped, p))
    case ZeroOrOne(p) =>
      val pairs = compileFlat(scoped, p)
      pairs.unionByName(zeroDomain(scoped, pairs)).distinct()
    case OneOrMore(p) =>
      transitiveClosure(compileFlat(scoped, p))
    case ZeroOrMore(p) =>
      val pairs = compileFlat(scoped, p)
      transitiveClosure(pairs).unionByName(zeroDomain(scoped, pairs)).distinct()
    case NegatedSet(iris) =>
      val excluded = iris.foldLeft(lit(false))((acc, i) => acc || col("p") === Term.iri(i))
      scoped.filter(!excluded)
        .select(col("s").as("src"), col("o").as("dst"))
  }

  /** Variable-graph compilation: pairs are (g, src, dst) and every join /
    * closure step also keys on `g`, evaluating the path independently per
    * named graph (`scoped` is pre-filtered to c IS NOT NULL).
    */
  private def compilePerGraph(scoped: DataFrame, path: Path): DataFrame = path match {
    case Link(iri) =>
      scoped.filter(col("p") === Term.iri(iri))
        .select(col("c").as("g"), col("s").as("src"), col("o").as("dst"))
    case Inv(p) =>
      compilePerGraph(scoped, p)
        .select(col("g"), col("dst").as("src"), col("src").as("dst"))
    case PSeq(a, b) =>
      val l = compilePerGraph(scoped, a)
      val r = compilePerGraph(scoped, b)
        .withColumnRenamed("src", "mid").withColumnRenamed("g", "g2")
      // see compileFlat's PSeq: pass-through only for endpoints without an
      // identity row on the zero-length-capable side (per graph)
      val joined = l.join(r, l("dst") === r("mid") && l("g") === r("g2"))
        .select(l("g"), l("src"), r("dst"))
      val throughB =
        if (admitsZeroLength(b)) {
          val covered = r.filter(col("mid") <=> col("dst"))
            .select(col("g2").as("cg"), col("mid").as("n")).distinct()
          Seq(l.join(covered,
                     l("dst") <=> col("n") && l("g") <=> col("cg"),
                     "left_anti")
            .select("g", "src", "dst"))
        } else Nil
      val throughA =
        if (admitsZeroLength(a)) {
          val covered = l.filter(col("src") <=> col("dst"))
            .select(col("g").as("cg"), col("src").as("n")).distinct()
          Seq(r.join(covered,
                     r("mid") <=> col("n") && r("g2") <=> col("cg"),
                     "left_anti")
            .select(col("g2").as("g"), col("mid").as("src"), col("dst")))
        } else Nil
      (Seq(joined) ++ throughB ++ throughA).reduce(_ unionByName _)
    case Alt(a, b) =>
      compilePerGraph(scoped, a).unionByName(compilePerGraph(scoped, b))
    case ZeroLength(p) =>
      if (zeroLengthOverAllTerms) zeroDomainPerGraph(scoped, null)
      else endpointIdentityPerGraph(compilePerGraph(scoped, p))
    case ZeroOrOne(p) =>
      val pairs = compilePerGraph(scoped, p)
      pairs.unionByName(zeroDomainPerGraph(scoped, pairs)).distinct()
    case OneOrMore(p) =>
      closureLoop(compilePerGraph(scoped, p), keyed = true, 64)
    case ZeroOrMore(p) =>
      val pairs = compilePerGraph(scoped, p)
      closureLoop(pairs, keyed = true, 64)
        .unionByName(zeroDomainPerGraph(scoped, pairs)).distinct()
    case NegatedSet(iris) =>
      val excluded = iris.foldLeft(lit(false))((acc, i) => acc || col("p") === Term.iri(i))
      scoped.filter(!excluded)
        .select(col("c").as("g"), col("s").as("src"), col("o").as("dst"))
  }

  /** Zero-length identity pairs in the active dialect (see
    * zeroLengthOverAllTerms): REC = every node of the scoped graph;
    * reference dialect = the path's own relation vertices. A bound
    * endpoint outside the domain is supplemented at bind time
    * (Translator.bindEnds zero-length handling).
    */
  private def zeroDomain(scoped: DataFrame, pairs: DataFrame): DataFrame =
    if (!zeroLengthOverAllTerms) endpointIdentity(pairs)
    else scoped.select(col("s").as("n"))
      .unionByName(scoped.select(col("o").as("n"))).distinct()
      .select(col("n").as("src"), col("n").as("dst"))

  private def zeroDomainPerGraph(scoped: DataFrame, pairs: DataFrame): DataFrame =
    if (!zeroLengthOverAllTerms) endpointIdentityPerGraph(pairs)
    else scoped.select(col("c").as("g"), col("s").as("n"))
      .unionByName(scoped.select(col("c").as("g"), col("o").as("n"))).distinct()
      .select(col("g"), col("n").as("src"), col("n").as("dst"))

  /** The path's own relation vertices, paired with themselves (the
    * reference's ZeroLengthPathOp.java:53 domain; property-paths-6).
    */
  private def endpointIdentity(pairs: DataFrame): DataFrame = {
    val nodes = pairs.select(col("src").as("n"))
      .unionByName(pairs.select(col("dst").as("n")))
      .distinct()
    nodes.select(col("n").as("src"), col("n").as("dst"))
  }

  /** Per-graph vertex domain of the path's edge relation. */
  private def endpointIdentityPerGraph(pairs: DataFrame): DataFrame = {
    val nodes = pairs.select(col("g"), col("src").as("n"))
      .unionByName(pairs.select(col("g"), col("dst").as("n")))
      .distinct()
    nodes.select(col("g"), col("n").as("src"), col("n").as("dst"))
  }

  /** Can a zero-length match arise at the top of this path? */
  def admitsZeroLength(path: Path): Boolean = path match {
    case _: ZeroOrMore | _: ZeroOrOne | _: ZeroLength => true
    case Alt(a, b) => admitsZeroLength(a) || admitsZeroLength(b)
    case Inv(p) => admitsZeroLength(p)
    case _ => false
  }

  import graft.util.Fixpoint.materialize

  /** Frontier rows above which seededClosure stops broadcasting each round
    * and shuffle-joins instead: ~1M single-term rows ≈ tens of MB — far
    * under the broadcast cap, comfortably over any "bounded endpoint on a
    * sane graph" frontier.
    */
  val SeededBroadcastMaxRows: Long = 1L << 20

  /** Incremental closure maintenance on edge insert: given an existing
    * closure and newly added edges, derive only the pairs the new edges
    * enable — closure ∪ (closure? · new · closure?) via delta-seeded
    * iteration, never recomputing from scratch.
    */
  def closureWithDelta(closure: DataFrame, newEdges: DataFrame,
                       maxIters: Int = 64): DataFrame = {
    val delta0 = materialize(newEdges.distinct())
    graft.util.Fixpoint.semiNaiveFrom(closure, delta0, maxIters) { (all, delta) =>
      // new pairs extend through the delta in either direction
      val fwd = delta.as("d").join(all.as("a"), col("d.dst") === col("a.src"))
        .select(col("d.src").as("src"), col("a.dst").as("dst"))
      val bwd = all.as("a").join(delta.as("d"), col("a.dst") === col("d.src"))
        .select(col("a.src").as("src"), col("d.dst").as("dst"))
      fwd.unionByName(bwd).distinct()
    }
  }

  /** Semi-naive transitive closure of a distinct (src, dst) edge set. */
  def transitiveClosure(edges: DataFrame, maxIters: Int = 64): DataFrame =
    closureLoop(edges, keyed = false, maxIters)

  /** Reachability from one BOUND endpoint — the reference ALP operator's
    * frontier expansion (ArbitraryLengthPathOp feeds incoming bindings into
    * the path instead of closing the whole graph; bigdata/src/java/com/
    * bigdata/bop/paths/ArbitraryLengthPathOp.java:58-84). A top-level
    * `+`/`*` with a constant endpoint must NOT materialize the whole-graph
    * closure and then filter: at corpus scale that touches every edge's
    * closure to answer one seed. Here each round joins the frontier against
    * the base relation — broadcast while it stays under `broadcastMaxRows`,
    * a plain shuffle join once a high-branching graph blows it up — so
    * evaluation touches only the reachable subgraph; rounds = the seed's
    * eccentricity.
    *
    * Returns the strictly-one-or-more pairs (seed, x) — `fromSrc = false`
    * walks the inverse relation and returns (x, seed). Zero-length
    * contributions are the caller's (the translator's constant-identity
    * supplement covers them for every dialect). A seed reachable from
    * itself through a cycle IS emitted (dedup is against emitted nodes,
    * which the seed joins only once).
    */
  def seededClosure(quads: DataFrame, inner: Path, graph: Option[Pat],
                    seed: org.apache.spark.sql.Column, fromSrc: Boolean,
                    maxIters: Int = 1 << 16,
                    broadcastMaxRows: Long = SeededBroadcastMaxRows): DataFrame = {
    val scoped = graph match {
      case Some(C(t)) => quads.filter(col("c") === t)
      case _          => quads.filter(col("c").isNull)
    }
    val base0 = compileFlat(scoped, inner)
    val base = if (fromSrc) base0
               else base0.select(col("dst").as("src"), col("src").as("dst"))
    val e = materialize(base.distinct())
    val spark = quads.sparkSession
    var frontier = materialize(spark.range(1).select(seed.as("n")))
    var frontierRows = 1L
    var out: DataFrame = null
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      // broadcast only while the frontier is genuinely small: near the seed
      // it is, but on a high-branching graph one round can reach millions of
      // nodes, and an unconditional broadcast() would OOM the driver (or hit
      // the 8 GB broadcast cap) at corpus scale — past the threshold the
      // round degrades gracefully to a plain shuffle join
      val probe = if (frontierRows <= broadcastMaxRows) broadcast(frontier)
                  else frontier
      var next = e.join(probe, col("src") <=> col("n"))
        .select(col("dst").as("n")).distinct()
      if (out != null) next = next.join(out, Seq("n"), "left_anti")
      val nextM = materialize(next)
      frontierRows = nextM.count()
      if (frontierRows == 0L) done = true
      else {
        out = if (out == null) nextM else out.unionByName(nextM)
        frontier = nextM
        i += 1
      }
    }
    val reached = if (out == null) e.limit(0).select(col("src").as("n")) else out
    if (fromSrc) reached.select(seed.as("src"), col("n").as("dst"))
    else reached.select(col("n").as("src"), seed.as("dst"))
  }

  /** Closure loop shared by the flat and per-graph variants: when `keyed`,
    * frames carry a `g` column and path composition also matches on it.
    *
    * Semi-naive PATH DOUBLING, not one-hop growth: each round composes the
    * previous round's fresh pairs with the whole accumulated closure (both
    * directions), so after round k every pair reachable by a path of
    * length <= 2^k is present — a D-diameter graph closes in ceil(log2 D)
    * rounds instead of D, and the 64-round bound covers diameter 2^64
    * (one-hop growth under the same bound silently truncated any path
    * longer than 65 edges — a correctness hole at data scale, where
    * per-user event chains alone run hundreds of hops). Total join work is
    * unchanged: every closure pair is still derived once from fresh-side
    * deltas; there are just exponentially fewer, larger rounds — the right
    * trade on an engine where every round is a scheduled job.
    */
  private def closureLoop(edges: DataFrame, keyed: Boolean, maxIters: Int): DataFrame = {
    // Dictionary-encode the term endpoints (and graph key) into dense long
    // ids for the duration of the loop: closure state is the hot frame —
    // shuffled, deduped, and checkpointed EVERY round — and as (long, long)
    // rows it is ~5x smaller than as lexical-form term structs, with cheap
    // hash/compare. Ids come from a materialized distinct-node dictionary
    // (monotonically_increasing_id is only stable on a materialized frame),
    // and the dictionary rejoins once at the end. Node dictionaries are
    // node-sized, not closure-sized, so they broadcast.
    val cols = if (keyed) Seq("g", "src", "dst") else Seq("src", "dst")
    // materialized ONCE: the deduped edge relation feeds the bounded-local
    // probe, the dictionary build (two scans) and the encode join (one
    // scan) — un-materialized, each consumer re-ran the full distinct, so
    // an over-bound relation paid the probe's thrown-away partial job and
    // the dict path recomputed the distinct three more times
    val e0 = materialize(edges.distinct())
    // bounded-size fast path before any dict machinery: a small edge
    // relation (schema hierarchies, tiny property graphs) closes in one
    // driver BFS over the collected rows — the whole encode/loop/decode
    // apparatus (dict build + 4 broadcast joins + log D rounds of
    // join/dedup/anti-join) is pure fixed overhead at that size
    if (keyed) encodedClosure(e0, cols, keyed, maxIters)
    else {
      val spark = edges.sparkSession
      val bound = Bounded.bound(spark, ClosureLocalMaxEdgesConf,
                                ClosureLocalMaxEdgesDefault)
      Bounded.choose("closure", Bounded.collect(e0, bound)) {
        rows => localBfsClosure(rows, spark, e0.schema)
      }(encodedClosure(e0, cols, keyed, maxIters))
    }
  }

  /** The distributed closure over deduped edges `e0`: dictionary-encode,
    * run the chain or doubling loop on ids, decode.
    */
  private def encodedClosure(e0: DataFrame, cols: Seq[String], keyed: Boolean,
                             maxIters: Int): DataFrame = {
    val dict = materialize(
      cols.map(c => e0.select(col(c).as("t"))).reduce(_ unionByName _)
        .distinct().withColumn("id", monotonically_increasing_id()))
    val enc = materialize(cols.foldLeft(e0) { (df, c) =>
      df.join(broadcast(dict).withColumnRenamed("id", s"__$c"),
              df(c) <=> dict("t"))
        .drop(c, "t").withColumnRenamed(s"__$c", c)
    }.select(cols.map(col): _*))

    val closedIds =
      (if (keyed) None else chainClosure(enc, maxIters))
        .getOrElse(doublingClosure(enc, cols, keyed, maxIters))

    // decode: one broadcast-dictionary join per endpoint column
    cols.foldLeft(closedIds) { (df, c) =>
      df.join(broadcast(dict).withColumnRenamed("t", s"__$c"),
              df(c) === dict("id"))
        .drop(c, "id").withColumnRenamed(s"__$c", c)
    }.select(cols.map(col): _*)
  }

  /** Chain-shaped closure fast path. When the edge relation is FUNCTIONAL
    * in both directions (max out-degree 1 and max in-degree 1 — two cheap
    * aggregates to detect), the graph is a disjoint union of simple chains
    * and simple cycles, and the general doubling loop — which shuffles,
    * dedups, and anti-joins the GROWING pair set every round — is massive
    * overkill: per-user event chains, linked-list provenance, version
    * threads are all this shape. Instead:
    *
    *   1. pointer-jump on the NODE-sized frame to label every node with its
    *      (chain head, position): O(log L) rounds, each a node-sized
    *      self-join — the closure-sized pair set is never part of loop
    *      state;
    *   2. one self-join per chain on `head_a = head_b AND pos_a < pos_b`
    *      emits every closure pair exactly once — no dedup, no anti-join,
    *      output-bound by construction.
    *
    * Cycles have no head, so their pointers never converge; the loop
    * detects that (monotone position sum goes stable only when every
    * pointer rests on a head) and returns None — the caller falls back to
    * the general doubling loop, which handles cycles. Convergence sums
    * positions as decimal(38,0): exact, no silent long overflow at any
    * realistic node count.
    *
    * Scale posture: a single L-node chain puts L rows on one join key and
    * emits L²/2 pairs — inherent to the answer, not the algorithm (any
    * closure pays output size); AQE skew-join splitting applies. Input `e`
    * must be materialized, distinct, (src: long, dst: long).
    */
  /** Edge-count bound for solving the chain labeling on the driver (see
    * [[graft.util.Bounded]] and the note inside [[chainClosure]]).
    */
  val ChainLocalMaxEdgesConf = "spark.graft.chainLocalMaxEdges"
  val ChainLocalMaxEdgesDefault = 2000000L

  /** Edge-count bound for the general (non-chain) closure's driver BFS,
    * and the output-pair cap past which it aborts back to the distributed
    * loop. The edge bound is tighter than the chain bound because a
    * general closure's output can approach E²; the pair cap bounds driver
    * memory when density bites anyway.
    */
  val ClosureLocalMaxEdgesConf = "spark.graft.closureLocalMaxEdges"
  val ClosureLocalMaxEdgesDefault = 65536L
  val ClosureLocalMaxPairs = 4000000L

  /** Driver BFS transitive closure over collected edge rows (endpoint
    * values compare by Row/primitive equality — term structs included).
    * Emits (src, dst) for every pair reachable by a path of length ≥ 1;
    * cycles reach their own start. Returns None if the pair count
    * exceeds [[ClosureLocalMaxPairs]].
    */
  private def localBfsClosure(rows: Array[org.apache.spark.sql.Row],
                              spark: org.apache.spark.sql.SparkSession,
                              schema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] = {
    val adj = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    rows.foreach { r =>
      adj.computeIfAbsent(r.get(0), _ => new java.util.ArrayList[Any]())
        .add(r.get(1))
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val starts = adj.keySet().iterator()
    val stack = new java.util.ArrayDeque[Any]()
    while (starts.hasNext) {
      val start = starts.next()
      val visited = new java.util.HashSet[Any]()
      stack.clear()
      val first = adj.get(start)
      var i = 0
      while (i < first.size()) { stack.push(first.get(i)); i += 1 }
      while (!stack.isEmpty) {
        val n = stack.pop()
        if (visited.add(n)) {
          out += org.apache.spark.sql.Row(start, n)
          if (out.length > ClosureLocalMaxPairs) return None
          val nxt = adj.get(n)
          if (nxt != null) {
            var j = 0
            while (j < nxt.size()) { stack.push(nxt.get(j)); j += 1 }
          }
        }
      }
    }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq), schema))
  }

  /** Driver walk of a both-ways-functional edge list: label every node
    * with its (chain head, position) — exactly the fixpoint the pointer-
    * jump loop converges to. Returns None when a cycle exists (some node
    * is never reached from a head), matching the loop's giving-up path.
    * Input must be deduped (src: long, dst: long) with in/out-degree ≤ 1.
    */
  private def localChainLabels(spark: org.apache.spark.sql.SparkSession,
                               rows: Array[org.apache.spark.sql.Row])
      : Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // primitive open-addressed structures (graft.util.LongLongMap/LongSet):
    // ~5x less driver heap than the boxed HashMap/HashSet/LinkedHashSet
    // these replaced, same conf'd bound — insertion order for the walk is
    // kept in a flat long array
    val next = new graft.util.LongLongMap(rows.length * 2)
    val hasPred = new graft.util.LongSet(rows.length * 2)
    val nodeSeen = new graft.util.LongSet(rows.length * 2)
    val nodes = new Array[Long](rows.length * 2)
    var nNodes = 0
    rows.foreach { r =>
      val (s, d) = (r.getLong(0), r.getLong(1))
      next.put(s, d); hasPred.add(d)
      if (nodeSeen.add(s)) { nodes(nNodes) = s; nNodes += 1 }
      if (nodeSeen.add(d)) { nodes(nNodes) = d; nNodes += 1 }
    }
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row](nNodes)
    var ni = 0
    var labeled = 0L
    while (ni < nNodes) {
      val n = nodes(ni); ni += 1
      if (!hasPred.contains(n)) { // a head: walk its chain
        var cur = n
        var pos = 0L
        var more = true
        while (more) {
          out += org.apache.spark.sql.Row(cur, n, pos)
          labeled += 1
          if (next.containsKey(cur)) { cur = next.get(cur); pos += 1 }
          else more = false
        }
      }
    }
    if (labeled != nNodes) return None // unreached nodes = cycles
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq),
      StructType(Seq(StructField("n", LongType, nullable = false),
                     StructField("ptr", LongType, nullable = false),
                     StructField("pos", LongType, nullable = false)))))
  }

  private def chainClosure(e: DataFrame, maxIters: Int): Option[DataFrame] = {
    // functionality detection + edge count in ONE pass (was three separate
    // jobs — two per-direction max-degree aggregations plus a count, i.e.
    // three full scans of the edge set): tag each endpoint with its side,
    // count per (side, node) group, then fold max-per-side and the edge
    // total out of the grouped frame in a single action
    val degRow = e.select(col("src").as("k"), lit(0).as("side"))
      .unionByName(e.select(col("dst").as("k"), lit(1).as("side")))
      .groupBy("side", "k").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(when(col("side") === 0, col("c"))), lit(0L)),
           coalesce(max(when(col("side") === 1, col("c"))), lit(0L)),
           coalesce(sum(when(col("side") === 0, col("c"))), lit(0L)))
      .first()
    val (maxOut, maxIn, edgeCount) =
      (degRow.getLong(0), degRow.getLong(1), degRow.getLong(2))
    if (maxOut > 1L || maxIn > 1L) return None
    // bounded-size fast path: below the bound the head/position labeling —
    // the part the jump rounds exist to compute — is a single driver walk
    // over the collected functional edge list, and ONLY the labeling moves
    // to the driver: the pair emission self-join, the part whose output is
    // closure-sized, stays distributed. The degree aggregate already gave
    // the edge count, so no probe runs. Either labeling is None on a cycle
    // (the local walk's verdict is final: no jump rounds after it).
    val spark = e.sparkSession
    val bound = Bounded.bound(spark, ChainLocalMaxEdgesConf,
                              ChainLocalMaxEdgesDefault)
    val rows = Option.when(Bounded.fits(edgeCount, bound))(
      e.select(col("src").cast("long"), col("dst").cast("long")).collect())
    val labels = Bounded.choose("chain", rows) {
      r => Some(localChainLabels(spark, r))
    }(jumpChainLabels(e, edgeCount, maxIters))
    labels.map { st =>
      Bounded.note("closure", "chain")
      st.as("a")
        .join(st.as("b"),
              col("a.ptr") === col("b.ptr") && col("a.pos") < col("b.pos"))
        .select(col("a.n").as("src"), col("b.n").as("dst"))
    }
  }

  /** (chain head, position) labels by distributed pointer jumping; None
    * when the jumps do not converge (a cycle).
    */
  private def jumpChainLabels(e: DataFrame, edgeCount: Long,
                              maxIters: Int): Option[DataFrame] = {
    // a chain of L edges converges in ceil(log2 L) jumps, so a loop still
    // unconverged past that bound has hit a cycle — give up THEN, not after
    // maxIters wasted rounds (also keeps pos ≤ 2·edges, far from long
    // overflow, since unconverged cycle positions double every round)
    val jumpBound = math.min(maxIters,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(edgeCount, 1L)) + 2)
    // each node's pointer: its unique predecessor (dist 1), or itself for a
    // head (dist 0); pointer jumping composes (n → ptr) with (ptr → ptr')
    val nodes = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n"))).distinct()
    val preds = e.select(col("dst").as("n"), col("src").as("p0"))
    var st = materialize(nodes.join(preds, Seq("n"), "left_outer")
      .select(col("n"), coalesce(col("p0"), col("n")).as("ptr"),
              when(col("p0").isNull, 0L).otherwise(1L).as("pos")))
    def posSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("pos").cast("decimal(38,0)")),
                      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .first().getDecimal(0)
    // the initial position sum needs no job: pos is 1 exactly for nodes
    // with a predecessor, and with in-degree ≤ 1 (just verified) each of
    // the edgeCount edges contributes one distinct such node
    var last = java.math.BigDecimal.valueOf(edgeCount)
    var i = 0
    while (i < jumpBound) {
      val jumped = st.as("a").join(st.as("b"), col("a.ptr") === col("b.n"))
        .select(col("a.n").as("n"), col("b.ptr").as("ptr"),
                (col("a.pos") + col("b.pos")).as("pos"))
      st = materialize(jumped)
      val cur = posSum(st)
      // every pointer rests on a head → pure chains
      if (cur.compareTo(last) == 0) return Some(st)
      last = cur
      i += 1
    }
    None // never converged → at least one cycle
  }

  /** General-graph closure: exact-power-prefix doubling (below). */
  private def doublingClosure(enc: DataFrame, cols: Seq[String], keyed: Boolean,
                              maxIters: Int): DataFrame = {
    Bounded.note("closure", "doubling")
    // Exact-power-prefix doubling over min-distance labels. Naive doubling
    // (freshall ∪ allfresh) rederives every length-L pair once per split
    // point — ~2^(r-1) copies per pair at round r, a ~100M-row intermediate
    // on a 3.3M-pair closure. Instead each pair carries dist = its shortest
    // path length, and round r composes ONLY the pairs with dist EXACTLY
    // 2^r against the accumulated closure: a path of true length
    // L ∈ (2^r, 2^(r+1)] splits uniquely as a shortest 2^r-prefix (in the
    // exact-2^r set by induction) plus a ≤2^r suffix, so join output stays
    // proportional to the number of NEW pairs (times the shortest-path tie
    // count), not to the number of splits. min(dist) aggregation keeps
    // labels exact; overestimated derivations lose the min or fall to the
    // anti-join. Same ceil(log2 D) round count.
    val e = materialize(enc.withColumn("dist", lit(1L)))
    var all = e
    var lastFresh = e
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      // dist = 2^i pairs live only in the last round's fresh frame (its
      // dists are (2^(i-1), 2^i]) — no need to scan the whole closure
      val exact = lastFresh.filter(col("dist") === (1L << i))
      val joinCond =
        if (keyed) col("l.dst") === col("r.src") && col("l.g") === col("r.g")
        else col("l.dst") === col("r.src")
      val head = if (keyed) Seq(col("l.g").as("g")) else Nil
      val grown = exact.as("l").join(all.as("r"), joinCond)
        .select(head ++ Seq(col("l.src").as("src"), col("r.dst").as("dst"),
                            (col("l.dist") + col("r.dist")).as("dist")): _*)
      val fresh = materialize(
        grown.groupBy(cols.map(col): _*).agg(min(col("dist")).as("dist"))
          .join(all, cols, "left_anti"))
      if (fresh.isEmpty) done = true
      else {
        // both sides are checkpointed, so the union is a shallow two-leaf
        // lineage — re-checkpointing the whole closure every round would
        // rewrite O(closure · log D) rows for nothing
        all = all.unionByName(fresh); lastFresh = fresh; i += 1
      }
    }
    all.drop("dist")
  }
}
