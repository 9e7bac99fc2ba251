package graft.gas

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Bounded
import graft.util.Fixpoint.{materialize, materializeKeyed}

/** Graph analytics over edge DataFrames — the GAS layer's programs
  * (reference: /root/reference/bigdata-gas/src/java/com/bigdata/rdf/graph/
  * analytics/{BFS,SSSP,CC,PR}.java over the IGASProgram gather/apply/scatter
  * API, IGASProgram.java:107-183) re-expressed as iterative DataFrame jobs.
  *
  * Edges: (src: BIGINT, dst: BIGINT [, weight: BIGINT]). Directed; pass both
  * directions for undirected semantics.
  *
  * Determinism: PageRank uses scaled *integer* arithmetic (rank units of
  * 1e-12) with floor division — no floating-point accumulation order
  * dependence, so results are bit-identical across partitionings, replays,
  * and external oracles.
  *
  * Scale posture: each round is one shuffle keyed by vertex; frontiers and
  * state are checkpointed per round (O(1) lineage); aggregation is
  * map-side-combined by Catalyst. This is the same communication pattern a
  * Pregel superstep performs.
  */
object Graphs {

  /** BFS: minimum hop count from the source set, up to maxDepth. */
  /** Loop-invariant edge relation, deduped and checkpointed WITH
    * HashPartitioning(src) preserved: every round of every iterative
    * program here joins frontier/label state against `src`, so keeping the
    * edge frame pre-partitioned removes the edge-sized exchange from every
    * round — at corpus scale the edge frame is the heavy side of those
    * joins. The repartition lands before dropDuplicates: (src) partitioning
    * satisfies the (src, dst) clustering the dedup needs (equal pairs share
    * src), so the dedup adds no second exchange.
    */
  private def keyedEdges(edges: DataFrame, cols: String*): DataFrame =
    materializeKeyed(
      edges.select(cols.head, cols.tail: _*)
        .repartition(col("src")).dropDuplicates("src", "dst"))

  /** Edge-count bound for the driver-local bfs/sssp/pagerank passes (see
    * [[graft.util.Bounded]]; 2M edges are tens of MB in int/long arrays).
    * All three programs are exact integer computations (min-hop,
    * min-weight, scaled-integer rank), so the two paths are bit-identical.
    * Like localComponents, the local path emits LongType node ids.
    */
  val GraphLocalMaxEdgesConf = "spark.graft.graphLocalMaxEdges"
  val GraphLocalMaxEdgesDefault = 2000000L

  private def graphBound(spark: SparkSession): Int =
    Bounded.bound(spark, GraphLocalMaxEdgesConf, GraphLocalMaxEdgesDefault)

  /** The edge frame as the local passes read it: long endpoints, then
    * `more` columns as they are.
    */
  private def longEdges(e: DataFrame, more: String*): DataFrame =
    e.select(Seq(col("src").cast(LongType), col("dst").cast(LongType)) ++
             more.map(col): _*)

  /** Dense node→index assignment over collected edge endpoints (driver
    * fast paths): primitive map + flat id array, no boxing.
    */
  private final class NodeIndex(expected: Int) {
    private val map = new graft.util.LongLongMap(expected)
    var nodes = new Array[Long](math.max(16, expected))
    var n = 0
    def id(node: Long): Int = {
      val v = map.getOrDefault(node, -1L)
      if (v >= 0L) v.toInt
      else {
        if (n == nodes.length) nodes = java.util.Arrays.copyOf(nodes, n * 2)
        nodes(n) = node; map.put(node, n.toLong); n += 1; n - 1
      }
    }
    /** Index of `node`, or -1 when unseen. */
    def lookup(node: Long): Int = map.getOrDefault(node, -1L).toInt
  }

  /** Dense ids for collected edge rows: the node index (ids assigned in
    * row order, src before dst) plus each edge's src and dst id.
    */
  private def indexEdges(eRows: Array[Row]): (NodeIndex, Array[Int], Array[Int]) = {
    val m = eRows.length
    val ix = new NodeIndex(m * 2)
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    var i = 0
    while (i < m) {
      srcIdx(i) = ix.id(eRows(i).getLong(0))
      dstIdx(i) = ix.id(eRows(i).getLong(1))
      i += 1
    }
    (ix, srcIdx, dstIdx)
  }

  private def longRows(spark: SparkSession, rows: Seq[Row],
                       names: String*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(names.map(StructField(_, LongType, nullable = false))))

  def bfs(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    // NOT keyedEdges: the frontier is seed-bounded (tiny next to the edge
    // frame), and AQE's runtime broadcast conversion — which needs the
    // edge side to flow through a measurable shuffle stage — is worth far
    // more per round than a pre-partitioned edge frame (measured: keyed
    // edges forced sort-merge rounds and graph_bfs went 1.7s → 2.7-5.2s)
    val e = materialize(edges.select("src", "dst").distinct())
    val srcs = sources.select(col("node").cast(LongType)).distinct()
    val bound = graphBound(e.sparkSession)
    // sources are seed-bounded in practice: a huge source set falls back
    val probe = for {
      eRows <- Bounded.collect(longEdges(e), bound)
      sRows <- Bounded.collect(srcs, bound)
    } yield (eRows, sRows)
    Bounded.choose("bfs", probe) { case (eRows, sRows) =>
      Some(localBfs(e.sparkSession, eRows, sRows, maxDepth))
    }(bfsLoop(e, srcs, maxDepth))
  }

  /** Exact min-hop counts via driver BFS — bit-identical to the round loop
    * (sources at depth 0, including sources outside the graph; frontier
    * expansion capped at maxDepth).
    */
  private def localBfs(spark: SparkSession, eRows: Array[Row],
                       sRows: Array[Row], maxDepth: Int): DataFrame = {
    val m = eRows.length
    val (ix, srcIdx, dstIdx) = indexEdges(eRows)
    // CSR adjacency
    val off = new Array[Int](ix.n + 1)
    var i = 0; while (i < m) { off(srcIdx(i) + 1) += 1; i += 1 }
    i = 0; while (i < ix.n) { off(i + 1) += off(i); i += 1 }
    val cursor = java.util.Arrays.copyOf(off, ix.n)
    val adj = new Array[Int](m)
    i = 0
    while (i < m) {
      adj(cursor(srcIdx(i))) = dstIdx(i); cursor(srcIdx(i)) += 1; i += 1
    }
    val depth = new Array[Long](ix.n)
    java.util.Arrays.fill(depth, -1L)
    var frontier = new Array[Int](math.min(sRows.length, ix.n))
    var fN = 0
    // sources outside the edge set still emit their depth-0 row (the
    // distributed init frame is sources-distinct, not graph-joined)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    i = 0
    while (i < sRows.length) {
      val s = sRows(i).getLong(0)
      val id = ix.lookup(s)
      if (id >= 0) {
        if (depth(id) < 0L) { depth(id) = 0L; frontier(fN) = id; fN += 1 }
      } else out += Row(s, 0L)
      i += 1
    }
    var d = 0L
    while (d < maxDepth && fN > 0) {
      val next = new Array[Int](ix.n)
      var nN = 0
      var f = 0
      while (f < fN) {
        val u = frontier(f); f += 1
        var j = off(u)
        val end = off(u + 1)
        while (j < end) {
          val v = adj(j); j += 1
          if (depth(v) < 0L) { depth(v) = d + 1; next(nN) = v; nN += 1 }
        }
      }
      frontier = next; fN = nN; d += 1
    }
    i = 0
    while (i < ix.n) {
      if (depth(i) >= 0L) out += Row(ix.nodes(i), depth(i))
      i += 1
    }
    longRows(spark, out.toIndexedSeq, "node", "depth")
  }

  /** The distributed frontier loop (unchanged): one AQE-broadcast join +
    * anti-join per round.
    */
  private def bfsLoop(e: DataFrame, srcs: DataFrame, maxDepth: Int): DataFrame = {
    var depths = materialize(srcs.withColumn("depth", lit(0L)))
    var frontier = depths
    var d = 0L
    while (d < maxDepth && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(depths.select("node"), Seq("node"), "left_anti")
        .withColumn("depth", lit(d + 1))
      frontier = materialize(next)
      // frontier is checkpointed, so the union is a shallow lineage —
      // re-checkpointing the whole depth frame would rewrite O(V log V)
      depths = depths.unionByName(frontier)
      d += 1
    }
    depths
  }

  /** Hop-bounded SSSP (Bellman-Ford rounds): minimum weight path from
    * `source` using at most maxHops edges. Integer weights.
    */
  def sssp(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    // no dedup here (parallel edges each relax, by contract); and not
    // keyedEdges either — the distance frame is seed-bounded like bfs's
    // frontier, so AQE's broadcast conversion of the small side beats a
    // pre-partitioned edge frame (see bfs note)
    val e = materialize(
      edges.select(col("src"), col("dst"), col("weight").cast(LongType)))
    Bounded.choose("sssp",
        Bounded.collect(longEdges(e, "weight"), graphBound(e.sparkSession))) {
      eRows => Some(localSssp(e.sparkSession, eRows, source, maxHops))
    }(ssspLoop(e, source, maxHops))
  }

  /** Exact hop-bounded Bellman-Ford on the driver — bit-identical to the
    * round loop: after round i every reached node holds the min weight
    * over paths of ≤ i edges (relaxations read the previous round's
    * distances, exactly like the dist-frame join), parallel edges each
    * relax, and arithmetic is the same wrapping Long add.
    */
  private def localSssp(spark: SparkSession, eRows: Array[Row],
                        source: Long, maxHops: Int): DataFrame = {
    val INF = Long.MaxValue
    val m = eRows.length
    val (ix, srcIdx, dstIdx) = indexEdges(eRows)
    val w = Array.tabulate(m)(eRows(_).getLong(2))
    val sId = ix.lookup(source)
    if (sId < 0) // source not in the graph: the init frame is the result
      return longRows(spark, Seq(Row(source, 0L)), "node", "dist")
    var prev = new Array[Long](ix.n)
    java.util.Arrays.fill(prev, INF)
    prev(sId) = 0L
    var hop = 0
    var changed = true // unchanged round = the fingerprint early-exit
    while (hop < maxHops && changed) {
      val next = prev.clone()
      changed = false
      var j = 0
      while (j < m) {
        val p = prev(srcIdx(j))
        if (p != INF) {
          val nd = p + w(j)
          if (nd < next(dstIdx(j))) { next(dstIdx(j)) = nd; changed = true }
        }
        j += 1
      }
      prev = next; hop += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var i = 0
    while (i < ix.n) {
      if (prev(i) != INF) out += Row(ix.nodes(i), prev(i))
      i += 1
    }
    longRows(spark, out.toIndexedSeq, "node", "dist")
  }

  /** The distributed Bellman-Ford rounds (unchanged). */
  private def ssspLoop(e: DataFrame, source: Long, maxHops: Int): DataFrame = {
    var dist = materialize(
      e.sparkSession.range(1).select(lit(source).as("node"), lit(0L).as("dist")))
    // convergence by (XOR-of-row-hashes, count) fingerprint: distances only
    // decrease and nodes only get added, so an unchanged fingerprint means
    // no row changed — one cheap aggregate per round instead of an except()
    // shuffle; see Fixpoint.fingerprint for the residual 2^-64 collision
    // bound and why the paired count kills cardinality-cancellation classes
    def checksum(df: DataFrame): (Long, Long) =
      graft.util.Fixpoint.fingerprint(df, col("node"), col("dist"))
    var sum0 = checksum(dist)
    var i = 0
    while (i < maxHops) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(e("dst").as("node"), (dist("dist") + e("weight")).as("dist"))
        .unionByName(dist)
        .groupBy("node").agg(min(col("dist")).as("dist"))
      val next = materialize(relaxed)
      val sum1 = checksum(next)
      if (sum1 == sum0) return next
      sum0 = sum1
      dist = next
      i += 1
    }
    dist
  }

  /** Connected components: component id = minimum reachable node id. Each
    * round combines neighbor min-label propagation with pointer jumping
    * (label := label of label), giving O(log n) rounds instead of
    * O(diameter) — long chains/paths converge fast. Pass both edge
    * directions for undirected graphs.
    *
    * A measured negative result, recorded: a semi-naive variant (only
    * labels that DECREASED last round generate push/jump candidates, with
    * convergence = empty changed set) benchmarked ~2x SLOWER at sf0.1
    * (7.9s vs ~4s) in a same-session A/B. Two reasons: the delta plumbing
    * adds two joins per round (jump-down and jump-up replace the single
    * full self-jump, plus the changed-set derivation), and restricting
    * the jump to changed-adjacent nodes WEAKENS pointer jumping — chains
    * collapse over more rounds. Full-frame rounds keep the aggressive
    * label:=label(label) doubling; at scale the per-round volume is the
    * label frame, which is node-, not edge-, sized, so the "delta saves
    * shuffle bytes" argument buys little here to begin with.
    */
  /** Edge-count bound for connectedComponents' driver union-find (see
    * [[graft.util.Bounded]]).
    */
  val CcLocalMaxEdgesConf = "spark.graft.ccLocalMaxEdges"
  val CcLocalMaxEdgesDefault = 2000000L

  /** Exact min-label components via driver union-find — bit-identical to
    * the fixpoint result (component = minimum reachable node id).
    */
  private def localComponents(spark: SparkSession, rows: Array[Row]): DataFrame = {
    // open-addressed long→long parent map (graft.util.LongLongMap): ~5x
    // less driver heap per entry than the boxed java.util.HashMap this
    // used, no per-union garbage — the conf'd edge bound buys 5x more
    // headroom at the same driver budget
    val parent = new graft.util.LongLongMap(rows.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        val p = parent.get(r)
        parent.put(r, parent.get(p)) // path halving
        r = parent.get(r)
      }
      r
    }
    var r = 0
    while (r < rows.length) {
      val row = rows(r); r += 1
      val (s, d) = (row.getLong(0), row.getLong(1))
      parent.putIfAbsent(s, s)
      parent.putIfAbsent(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { // union by min root keeps find-results canonical-min
        if (rs < rd) parent.put(rd, rs) else parent.put(rs, rd)
      }
    }
    val out = new Array[Row](parent.size)
    var i = 0
    // find() inside the iteration only path-halves (value updates on
    // existing keys — no insert, so no resize): safe during foreachEntry
    parent.foreachEntry { (n, _) =>
      out(i) = Row(n, find(n))
      i += 1
    }
    longRows(spark, out.toIndexedSeq, "node", "component")
  }

  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val e = keyedEdges(edges, "src", "dst")
    val bound = Bounded.bound(e.sparkSession, CcLocalMaxEdgesConf,
                              CcLocalMaxEdgesDefault)
    Bounded.choose("cc", Bounded.collect(longEdges(e), bound)) {
      rows => Some(localComponents(e.sparkSession, rows))
    }(connectedComponentsLoop(e, maxIters))
  }

  /** The distributed fixpoint (unchanged): min-label propagation + double
    * pointer jumping per round.
    */
  private def connectedComponentsLoop(e: DataFrame, maxIters: Int): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var labels = materialize(nodes.withColumn("component", col("node")))
    // convergence: (XOR of per-row (node, component) hashes, count) — one
    // cheap aggregate instead of an except(). Unlike sum(component) the XOR
    // cannot overflow at billions of 64-bit hashed node ids; the paired
    // count pins cardinality; see Fixpoint.fingerprint for the residual
    // 2^-64 per-round collision bound
    def checksum(df: DataFrame): (Long, Long) =
      graft.util.Fixpoint.fingerprint(df, col("node"), col("component"))
    var sum0 = checksum(labels)
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      val fromNbr = labels.join(e, labels("node") === e("src"))
        .select(e("dst").as("node"), labels("component"))
      // the jump covers EVERY node (component ids are always node ids, so
      // the inner join never drops a row) and is monotone non-increasing
      // (component(component(v)) <= component(v)) — unioning the current
      // label frame in would be redundant volume in the round's shuffle
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.component") === col("b.node"))
        .select(col("a.node").as("node"), col("b.component").as("component"))
      // second jump (label of label of label): quadruples the effective
      // doubling per round on chain-shaped components for one extra
      // node-sized join — rounds are the dominant cost at any scale where
      // per-round scheduling/shuffle setup outweighs row volume
      val jump2 = jump.as("a")
        .join(labels.as("b"), col("a.component") === col("b.node"))
        .select(col("a.node").as("node"), col("b.component").as("component"))
      val next = materialize(
        fromNbr.unionByName(jump2)
          .groupBy("node").agg(min(col("component")).as("component")))
      val sum1 = checksum(next)
      if (sum1 == sum0) done = true
      sum0 = sum1
      labels = next
      i += 1
    }
    labels
  }

  /** PageRank with damping 0.85, fixed iteration count, scaled-integer
    * arithmetic: initial rank R0 = 1e12 per node;
    * r'(v) = (15·1e12) div 100 + (85 · Σ_{u→v} (r(u) div deg(u))) div 100.
    * Exact integer ops → deterministic across engines and partitionings.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    val e = materialize(edges.select("src", "dst").distinct())
    Bounded.choose("pagerank",
        Bounded.collect(longEdges(e), graphBound(e.sparkSession))) {
      eRows => Some(localPagerank(e.sparkSession, eRows, iters))
    }(pagerankLoop(e, iters))
  }

  /** Exact scaled-integer PageRank on the driver — bit-identical to the
    * round loop: same distinct-edge out-degrees, same per-edge
    * `rank div deg` contribution (Long division truncates identically to
    * Spark's IntegralDivide), inflow summed in wrapping Long adds
    * (commutative — no order dependence), dangling/no-inflow nodes get
    * inflow 0 exactly like the zero-row union.
    */
  private def localPagerank(spark: SparkSession, eRows: Array[Row],
                            iters: Int): DataFrame = {
    val Unit_ : Long = 1000000000000L
    val m = eRows.length
    val (ix, srcIdx, dstIdx) = indexEdges(eRows)
    val deg = new Array[Long](ix.n)
    var i = 0; while (i < m) { deg(srcIdx(i)) += 1L; i += 1 }
    val rank = new Array[Long](ix.n)
    java.util.Arrays.fill(rank, Unit_)
    var it = 0
    while (it < iters) {
      val inflow = new Array[Long](ix.n)
      var j = 0
      while (j < m) {
        inflow(dstIdx(j)) += rank(srcIdx(j)) / deg(srcIdx(j))
        j += 1
      }
      i = 0
      while (i < ix.n) {
        rank(i) = 15L * Unit_ / 100L + 85L * inflow(i) / 100L
        i += 1
      }
      it += 1
    }
    val out = new Array[Row](ix.n)
    i = 0
    while (i < ix.n) { out(i) = Row(ix.nodes(i), rank(i)); i += 1 }
    longRows(spark, out.toIndexedSeq, "node", "rank")
  }

  /** The distributed fixed-count rounds (unchanged). */
  private def pagerankLoop(e: DataFrame, iters: Int): DataFrame = {
    val Unit_ : Long = 1000000000000L
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // keyed checkpoint: eDeg is loop-invariant and joined on src every
    // round — preserving its HashPartitioning(src) removes the edge-sized
    // exchange from every iteration (the frame a 100 TB corpus actually
    // pays to move; rank frames are node-sized)
    val eDeg = materializeKeyed(e.join(deg, "src"))
    val nodes = materialize(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct())
    var ranks = nodes.withColumn("rank", lit(Unit_))
    // Measured NEGATIVE result (r13), recorded: letting this fixed-count
    // loop stay LAZY (no per-round materialize; checkpoint every 8th round
    // only) was a wash at sf0.1 (3.1-4.9s vs 3.0-3.6) and a 2-3x REGRESSION
    // at sf1 (18-34s vs 9.2s) — the per-round checkpoint is what gives AQE
    // an exact size for the rank frame, so each round's join converts to a
    // broadcast; one deep lazy plan estimates poorly and falls into
    // sort-merge rounds. The eager per-round materialize stays.
    for (_ <- 1 to iters) {
      // dangling-node handling WITHOUT a per-round outer join: union a
      // zero-contribution row per node into the inflow aggregation — the
      // same (node, inflow) frame (sum + 0 = sum; absent groups surface
      // with inflow 0), one join and one exchange fewer per round than
      // aggregate-then-left-join-nodes
      val contribs = ranks.join(eDeg, ranks("node") === eDeg("src"))
        .select(eDeg("dst").as("node"),
                expr("rank div deg").as("contrib"))
      ranks = materialize(
        contribs.unionByName(nodes.withColumn("contrib", lit(0L)))
          .groupBy("node").agg(sum(col("contrib")).as("inflow"))
          .select(col("node"),
            (lit(15L * Unit_ / 100L) +
             expr("85 * inflow div 100")).as("rank")))
    }
    ranks
  }

  /** Per-vertex triangle counts of the undirected simple graph (edges taken
    * as undirected; self-loops and multiplicity dropped). The degree-
    * ordered wedge algorithm (Schank & Wagner 2005 / Cohen's MapReduce
    * formulation): orient every edge from the (degree, id)-smaller endpoint
    * to the larger, enumerate wedges at the smaller endpoint, and close
    * them against the oriented edge set — each triangle materializes
    * EXACTLY once, and the wedge count is bounded by O(E^1.5) instead of
    * Σ deg² (a hub's star never explodes: high-degree vertices terminate
    * wedges, they don't open them — THE trick that makes triangle counting
    * survive power-law graphs at scale).
    *
    * Three hash aggregations/joins over the edge frame, all equi-keyed (no
    * nested loops); output is one row per vertex in ≥1 triangle. Exact
    * integer counts — replayable in ANSI SQL.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    wedgeTriangles(orientedEdges(edges))

  /** The degree-oriented edge frame (u, w, dw): every undirected simple
    * edge once, pointing from the (deg, id)-smaller to the larger
    * endpoint, materialized (it feeds the three-way wedge closure).
    */
  private def orientedEdges(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient a—b from the (deg, id)-smaller to the larger endpoint
    materialize(und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
             struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"),
                            col("da").as("dw"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw")))
  }

  /** Per-vertex triangle counts from the oriented frame. */
  private def wedgeTriangles(oriented: DataFrame): DataFrame = {
    // wedges at u with the two legs ordered by (deg, id); close on (x, y)
    val left = oriented.select(col("u"), col("w").as("x"), col("dw").as("dx"))
    val right = oriented.select(col("u"), col("w").as("y"), col("dw").as("dy"))
    val tris = left.join(right, "u")
      .filter(col("dx") < col("dy") ||
              (col("dx") === col("dy") && col("x") < col("y")))
      .join(oriented.select(col("u").as("x"), col("w").as("y")),
            Seq("x", "y"))
    tris.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Local clustering coefficient per vertex: how close a vertex's
    * neighborhood is to a clique — `2·triangles(v) / (deg(v)·(deg(v)−1))`,
    * emitted in exact micro-units (`(2·tri·10^6) div (deg·(deg−1))`) so
    * the frame replays bit-for-bit. Vertices of degree < 2 have no
    * defined coefficient and are omitted (Watts-Strogatz convention);
    * triangle-free vertices of degree ≥ 2 report 0.
    *
    * Cost = [[triangleCounts]] plus one degree aggregation and an outer
    * join — the wedge closure dominates, same scale posture.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    // one oriented-edge materialization serves BOTH the degree frame and
    // the wedge closure (before this, und+deg were derived twice: once
    // feeding the orientation checkpoint inside triangleCounts and once
    // again from the raw edges for the filter branch — a full duplicate
    // distinct+aggregate+join chain over the edge set). The oriented frame
    // keeps each undirected edge exactly once, so per-vertex degree is its
    // u-side count plus w-side count — identical values to the und degree.
    val oriented = orientedEdges(edges)
    val deg = oriented.select(col("u").as("node"))
      .unionByName(oriented.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(wedgeTriangles(oriented), Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("(2 * coalesce(n_tri, 0L) * 1000000L) div (deg * (deg - 1))")
          .as("cc_micro"))
  }
}
