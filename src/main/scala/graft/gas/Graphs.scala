package graft.gas

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Bounded
import graft.util.Fixpoint.{materialize, materializeKeyed}

/** Graph analytics over edge DataFrames — the GAS layer's programs
  * (reference: bigdata-gas/src/java/com/bigdata/rdf/graph/analytics/
  * {BFS,SSSP,CC,PR}.java over the IGASProgram gather/apply/scatter API,
  * IGASProgram.java:107-183).
  *
  * Edges: (src: BIGINT, dst: BIGINT [, weight: BIGINT]). Directed; pass both
  * directions for undirected semantics.
  *
  * BFS, SSSP and PageRank are each one [[VertexProgram]] value (Pregelix's
  * init/message/combine/apply): edge weight, message, combiner, apply step,
  * seeds and round cap. Two executors read it, and `Bounded.choose` picks
  * by edge count: [[runLocal]] on the driver (dense ids, Long arrays) and
  * [[runDistributed]] (one join plus one groupBy per superstep). The
  * combiner sets the round shape on both. A `min` program runs semi-naive:
  * only vertices whose value dropped last round send, each relaxation reads
  * the previous round's value, and the loop stops at the cap or an empty
  * frontier — after r rounds that is hop-capped Bellman-Ford, exactly. A
  * `sum` program sends from every vertex for exactly its round count.
  *
  * Connected components is two algorithms chosen by input size, not one
  * program: a driver union-find, or pointer-jumping label rounds. Those
  * rounds stay full-frame instead of semi-naive because pointer jumping
  * reads every label (see [[connectedComponents]]).
  *
  * Determinism: every program is exact integer arithmetic (PageRank in
  * scaled integer units with floor division), so results are bit-identical
  * across executors, partitionings, replays and external oracles. Overflow
  * throws ArithmeticException on both executors: `Math.addExact` and
  * `multiplyExact` on the driver, ANSI mode on Spark.
  *
  * Scale posture: each round is one shuffle keyed by vertex; frontiers and
  * state are checkpointed per round (O(1) lineage); aggregation is
  * map-side-combined by Catalyst. This is the same communication pattern a
  * Pregel superstep performs.
  */
object Graphs {

  /** Edge-count bound for the driver executor of bfs/sssp/pagerank (see
    * [[graft.util.Bounded]]; 2M edges are tens of MB in int/long arrays).
    * Like localComponents, the driver executor emits LongType node ids.
    */
  val GraphLocalMaxEdgesConf = "spark.graft.graphLocalMaxEdges"
  val GraphLocalMaxEdgesDefault = 2000000L

  /** The edge frame as the local passes read it: long endpoints, then
    * `more` columns as they are.
    */
  private def longEdges(e: DataFrame, more: String*): DataFrame =
    e.select(Seq(col("src").cast(LongType), col("dst").cast(LongType)) ++
             more.map(col): _*)

  private def longRows(spark: SparkSession, rows: Seq[Row],
                       names: String*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(names.map(StructField(_, LongType, nullable = false))))

  /** Edge weight w of u→v: 1 (parallel edges deduplicated), the `weight`
    * column (parallel edges kept; each relaxes, by contract), or u's
    * out-degree over the deduplicated edges.
    */
  private sealed trait Weight
  private case object Hop extends Weight
  private case object Weighted extends Weight
  private case object OutDegree extends Weight

  /** The message along u→v from u's state and w: `local` on the driver,
    * `sql` over the columns `state` and `w` on Spark (`div` truncates like
    * Long division).
    */
  private sealed abstract class Message(val sql: String, val local: (Long, Long) => Long)
  private case object Plus extends Message("state + w", Math.addExact(_, _))
  private case object Quotient extends Message("state div w", _ / _)

  /** How a vertex combines its messages. `Min`: the least message replaces
    * a higher value. `Sum`: the messages' sum x (0 when none arrive) becomes
    * the value base + (num · x) div den.
    */
  private sealed trait Combine
  private case object Min extends Combine
  private final case class Sum(base: Long, num: Long, den: Long) extends Combine

  /** One graph analytic, read by both executors. `site` is its `Bounded`
    * site; `out` names the result's value column. A `min` program starts
    * from `seeds` (a `node` column, in the graph or not) at `init`; a `sum`
    * program (seeds None) starts every vertex of the edge frame at `init`.
    */
  private final case class VertexProgram(
      site: String, out: String, weight: Weight, message: Message,
      combine: Combine, seeds: Option[DataFrame], init: Long, rounds: Int)

  /** BFS: minimum hop count from the source set, up to maxDepth. */
  def bfs(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame =
    runProgram(edges, VertexProgram("bfs", "depth", Hop, Plus, Min,
      Some(sources.select(col("node").cast(LongType))), 0L, maxDepth))

  /** Hop-bounded SSSP (Bellman-Ford rounds): minimum weight path from
    * `source` using at most maxHops edges. Integer weights.
    */
  def sssp(edges: DataFrame, source: Long, maxHops: Int): DataFrame =
    // a local relation: the driver executor's seed probe runs no job
    runProgram(edges, VertexProgram("sssp", "dist", Weighted, Plus, Min,
      Some(edges.sparkSession.createDataFrame(Seq(Tuple1(source))).toDF("node")),
      0L, maxHops))

  private val RankUnit = 1000000000000L

  /** PageRank with damping 0.85, fixed iteration count, scaled-integer
    * arithmetic: initial rank R0 = 1e12 per node;
    * r'(v) = (15·1e12) div 100 + (85 · Σ_{u→v} (r(u) div deg(u))) div 100.
    * Exact integer ops → deterministic across engines and partitionings;
    * dangling and no-inflow nodes get inflow 0.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame =
    runProgram(edges, VertexProgram("pagerank", "rank", OutDegree, Quotient,
      Sum(15L * RankUnit / 100L, 85L, 100L), None, RankUnit, iters))

  /** Prepares the edge frame, probes it (and the seeds) against the bound,
    * and runs `p` on the driver executor below it, distributed above.
    */
  private def runProgram(edges: DataFrame, p: VertexProgram): DataFrame = {
    // NOT src-partitioned like connectedComponents' edges: bfs and sssp
    // state is seed-bounded (tiny next to the edge frame), and AQE's runtime broadcast conversion — which needs the
    // edge side to flow through a measurable shuffle stage — is worth far
    // more per round than a pre-partitioned edge frame (measured: keyed
    // edges forced sort-merge rounds and graph_bfs went 1.7s → 2.7-5.2s).
    // A weighted frame is not deduplicated: parallel edges each relax, by
    // contract.
    val e = materialize(p.weight match {
      case Weighted => edges.select(col("src"), col("dst"), col("weight").cast(LongType))
      case _ => edges.select("src", "dst").distinct()
    })
    val bound = Bounded.bound(e.sparkSession, GraphLocalMaxEdgesConf,
                              GraphLocalMaxEdgesDefault)
    // seeds are small in practice: a huge seed set falls back
    val probe = for {
      eRows <- Bounded.collect(longEdges(e, e.columns.toSeq.drop(2): _*), bound)
      sRows <- p.seeds.fold(Option(Array.empty[Row]))(Bounded.collect(_, bound))
    } yield (eRows, sRows)
    Bounded.choose(p.site, probe) { case (eRows, sRows) =>
      Some(runLocal(e.sparkSession, p, eRows, sRows))
    }(runDistributed(e, p))
  }

  /** The driver executor: dense ids and Long arrays, every round one scan
    * of the edges that leave a sending vertex.
    */
  private def runLocal(spark: SparkSession, p: VertexProgram,
                       eRows: Array[Row], sRows: Array[Row]): DataFrame = {
    val m = eRows.length
    // dense ids for the edge endpoints, then the seeds: a seed outside the
    // graph gets an id with no edges, so it keeps its seed row exactly like
    // the distributed init frame
    val index = new graft.util.LongLongMap(m * 2)
    val nodes = Array.newBuilder[Long]
    def id(node: Long): Int = {
      val known = index.getOrDefault(node, -1L)
      if (known >= 0L) known.toInt
      else { val k = index.size; index.put(node, k.toLong); nodes += node; k }
    }
    val src = eRows.map(r => id(r.getLong(0)))
    val dst = eRows.map(r => id(r.getLong(1)))
    val seeded = sRows.map(r => id(r.getLong(0)))
    val n = index.size
    val deg = new Array[Long](n)
    src.foreach(deg(_) += 1L)
    val w = Array.tabulate(m)(j => p.weight match {
      case Hop => 1L
      case Weighted => eRows(j).getLong(2)
      case OutDegree => deg(src(j))
    })
    val state = Array.fill(n)(p.init)
    val reached = new Array[Boolean](n)
    var sends = new Array[Boolean](n)
    (if (p.seeds.isEmpty) Array.range(0, n) else seeded)
      .foreach { v => reached(v) = true; sends(v) = true }
    var r = 0
    while (r < p.rounds && sends.contains(true)) {
      // senders read the previous round's values, never one written in this round
      val sent = state.clone()
      val inflow = new Array[Long](n)
      val next = new Array[Boolean](n)
      var j = 0
      while (j < m) {
        if (sends(src(j))) {
          val v = dst(j)
          val msg = p.message.local(sent(src(j)), w(j))
          p.combine match {
            case Min =>
              if (!reached(v) || msg < state(v)) {
                state(v) = msg; reached(v) = true; next(v) = true
              }
            case _: Sum => inflow(v) = Math.addExact(inflow(v), msg)
          }
        }
        j += 1
      }
      p.combine match {
        case Min => sends = next
        case Sum(base, num, den) =>
          for (v <- 0 until n)
            state(v) = Math.addExact(base, Math.multiplyExact(num, inflow(v)) / den)
      }
      r += 1
    }
    val ids = nodes.result()
    val out = (0 until n).filter(reached(_)).map(v => Row(ids(v), state(v)))
    longRows(spark, out, "node", p.out)
  }

  /** The distributed executor: per superstep, the sending vertices'
    * (node, state) joined to the weighted edges (src, dst, w) on src, the
    * messages grouped by dst, and the round's frame materialized.
    */
  private def runDistributed(e: DataFrame, p: VertexProgram): DataFrame = {
    val weighted = p.weight match {
      case Hop => e.withColumn("w", lit(1L))
      case Weighted => e.withColumnRenamed("weight", "w")
      // keyed checkpoint: the degree-weighted edges are loop-invariant and
      // joined on src every round — preserving their HashPartitioning(src)
      // removes the edge-sized exchange from every iteration (the frame a
      // 100 TB corpus actually pays to move; a sum program's state frames
      // are node-sized)
      case OutDegree =>
        materializeKeyed(e.join(e.groupBy("src").agg(count(lit(1)).as("w")), "src"))
    }
    def messages(from: DataFrame): DataFrame =
      from.join(weighted, from("node") === weighted("src"))
        .select(weighted("dst").as("node"), expr(p.message.sql).as("msg"))
    p.combine match {
      case Min =>
        // each frame is materialized with its row count and value range
        // observed in the same job: the count is the emptiness test, and
        // while no frame holds a value below the highest one held before
        // it, no vertex was lowered, so each vertex holds exactly one row
        var (highest, lowered, sends) = (p.init, false, true)
        def observed(frame: DataFrame): DataFrame = {
          val watched = frame.observe("round", count(lit(1)).as("n"),
            min("state").as("lo"), max("state").as("hi"))
          val out = materialize(watched)
          // read off the executed plan once the job is done, not through the
          // asynchronous listener bus an `Observation` waits on
          val stats = watched.queryExecution.observedMetrics("round")
          sends = stats.getLong(0) != 0L
          if (sends) {
            lowered ||= stats.getLong(1) < highest
            highest = math.max(highest, stats.getLong(2))
          }
          out
        }
        var frontier = observed(p.seeds.get.distinct().withColumn("state", lit(p.init)))
        var state = frontier
        var r = 0
        while (r < p.rounds && sends) {
          // a message survives when no value the vertex holds is as low
          val held = state.select(col("node").as("held_node"), col("state").as("held"))
          frontier = observed(
            messages(frontier).groupBy("node").agg(min("msg").as("state"))
              .join(held, col("node") === col("held_node") &&
                          col("held") <= col("state"), "left_anti"))
          // frontier is checkpointed, so the union is a shallow lineage —
          // re-checkpointing the whole state frame would rewrite O(V log V)
          state = state.unionByName(frontier)
          r += 1
        }
        // a lowered vertex holds one row per drop; the least is its value
        if (lowered) state.groupBy("node").agg(min("state").as(p.out))
        else state.withColumnRenamed("state", p.out)
      case Sum(base, num, den) =>
        val nodes = materialize(
          e.select(col("src").as("node"))
            .unionByName(e.select(col("dst").as("node"))).distinct())
        var state = nodes.withColumn("state", lit(p.init))
        // Measured NEGATIVE result (r13), recorded: letting this fixed-count
        // loop stay LAZY (no per-round materialize; checkpoint every 8th round
        // only) was a wash at sf0.1 (3.1-4.9s vs 3.0-3.6) and a 2-3x REGRESSION
        // at sf1 (18-34s vs 9.2s) — the per-round checkpoint is what gives AQE
        // an exact size for the rank frame, so each round's join converts to a
        // broadcast; one deep lazy plan estimates poorly and falls into
        // sort-merge rounds. The eager per-round materialize stays.
        for (_ <- 1 to p.rounds) {
          // dangling-node handling WITHOUT a per-round outer join: union a
          // zero-message row per node into the aggregation — the same
          // (node, inflow) frame (sum + 0 = sum; absent groups surface with
          // inflow 0), one join and one exchange fewer per round than
          // aggregate-then-left-join-nodes
          state = materialize(
            messages(state).unionByName(nodes.withColumn("msg", lit(0L)))
              .groupBy("node").agg(sum(col("msg")).as("inflow"))
              .select(col("node"),
                expr(s"${base}L + ${num}L * inflow div ${den}L").as("state")))
        }
        state.withColumnRenamed("state", p.out)
    }
  }

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

  /** Connected components: component id = minimum reachable node id. Each
    * round combines neighbor min-label propagation with pointer jumping
    * (label := label of label), giving O(log n) rounds instead of
    * O(diameter) — long chains/paths converge fast. Pass both edge
    * directions for undirected graphs.
    *
    * A measured negative result, recorded: a semi-naive variant (only
    * labels that DECREASED last round generate push/jump candidates, with
    * convergence = empty changed set) benchmarked ~2x SLOWER at sf0.1
    * (7.9s vs ~4s) in a same-JVM A/B. Two reasons: the delta plumbing
    * adds two joins per round (jump-down and jump-up replace the single
    * full self-jump, plus the changed-set derivation), and restricting
    * the jump to changed-adjacent nodes WEAKENS pointer jumping — chains
    * collapse over more rounds. Full-frame rounds keep the aggressive
    * label:=label(label) doubling; at scale the per-round volume is the
    * label frame, which is node-, not edge-, sized, so the "delta saves
    * shuffle bytes" argument buys little here to begin with.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    // loop-invariant edge relation, deduped and checkpointed WITH
    // HashPartitioning(src) preserved: every round joins label state
    // against `src`, so keeping the edge frame pre-partitioned removes the
    // edge-sized exchange from every round — at corpus scale the edge frame
    // is the heavy side of those joins. The repartition lands before
    // dropDuplicates: (src) partitioning satisfies the (src, dst) clustering
    // the dedup needs (equal pairs share src), so the dedup adds no second
    // exchange.
    val e = materializeKeyed(
      edges.select("src", "dst").repartition(col("src")).dropDuplicates("src", "dst"))
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
