package graft.gas

import org.apache.spark.graphx.{Edge, Graph, Pregel, VertexId}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** GraphX-backed analytics — the Pregel-model execution of the same GAS
  * programs (reference: bigdata-gas engine,
  * /root/reference/bigdata-gas/src/java/com/bigdata/rdf/graph/impl/
  * GASEngine.java:73; BASELINE.json names GraphX as the intended vehicle).
  *
  * Two backends coexist deliberately: `Graphs` (DataFrame-iterative) keeps
  * everything in Catalyst/AQE land and is the default; this backend runs on
  * GraphX's Pregel machinery — vertex-partitioned RDDs — which wins when the
  * algorithm is long-running and vertex state is hot (no per-round plan
  * re-derivation). It serves the declared graphx_cc and graphx_bfs_hops.
  */
object GraphXBackend {

  private def toEdgeRdd(edges: DataFrame) =
    // queryExecution.toRdd hands over InternalRows directly — no
    // InternalRow→Row conversion per edge (the rows are reused buffers,
    // but the longs are extracted immediately, so no reference escapes)
    edges.select("src", "dst").queryExecution.toRdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))

  /** Connected components: component = lowest vertex id (same contract as
    * Graphs.connectedComponents).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val g = Graph.fromEdges(toEdgeRdd(edges), defaultValue = 0)
    val cc = g.connectedComponents().vertices.map { case (v, c) => Row(v, c) }
    edges.sparkSession.createDataFrame(cc, StructType(Seq(
      StructField("node", LongType), StructField("component", LongType))))
  }

  /** Unweighted shortest-hop distances from one landmark (BFS contract).
    *
    * A plain-Long Pregel port of GraphX's ShortestPaths specialized to ONE
    * landmark: ShortestPaths carries a Map[VertexId, Int] per vertex and
    * allocates merged maps in every superstep's vprog/sendMsg/mergeMsg —
    * with a single landmark that is pure overhead (measured ~2x the
    * superstep cost of the primitive-attr loop). Same message direction
    * (dst → src, distance along edge orientation toward the landmark),
    * same fixpoint, bit-identical (node, depth) rows.
    */
  def hopDistances(edges: DataFrame, source: Long): DataFrame = {
    val Inf = Long.MaxValue
    val g = Graph.fromEdges(toEdgeRdd(edges), defaultValue = 0)
      .mapVertices((v, _) => if (v == source) 0L else Inf)
    val sp = Pregel(g, Inf)(
      (_, attr, msg) => math.min(attr, msg),
      t => if (t.dstAttr != Inf && t.dstAttr + 1L < t.srcAttr)
             Iterator((t.srcId, t.dstAttr + 1L))
           else Iterator.empty,
      (a, b) => math.min(a, b)).vertices
      .flatMap { case (v, d) => if (d != Inf) Some(Row(v, d)) else None }
    edges.sparkSession.createDataFrame(sp, StructType(Seq(
      StructField("node", LongType), StructField("depth", LongType))))
  }
}
