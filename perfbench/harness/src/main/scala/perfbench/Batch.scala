package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.gas.Graphs
import graft.queries._
import graft.rules.Owl
import graft.sparql.Paths
import Harness._

/** The batch workload: the Catalog load steps, then a cold pass and warm
  * passes over a list of `SparkEntry.queries` entries, each evaluated as
  * `fn(spark, dir).count()` with every persisted RDD released after it.
  *
  * Each pass ends with the `forced` queries run with the five driver-local
  * bounds set to 0, so the iterative queries take their distributed loops,
  * load-time ones included.
  */
object Batch {

  /** The engine bench's Catalog load steps that the workload's queries
    * read, in the bench's order.
    */
  val loadSteps: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "quads" -> ((s, d) => RdfSuite.buildQuads(s, d).count()),
    "ftsIndex" -> ((s, d) => AnalyticsSuite.ftsIndex(s, d).count()),
    "owlTransitive" -> ((s, d) => SparkEntry.queries("owl_transitive_locatedin")(s, d).count()))

  /** The driver-local bounds, by their public constants: a rename breaks
    * this build instead of silently leaving the local paths on.
    */
  val localBounds: Seq[String] = Seq(
    Graphs.GraphLocalMaxEdgesConf, Graphs.CcLocalMaxEdgesConf,
    Paths.ChainLocalMaxEdgesConf, Paths.ClosureLocalMaxEdgesConf,
    Owl.OwlLocalMaxFactsConf)

  private val suites: Seq[(String, Map[String, _])] = Seq(
    "relational" -> Relational.queries, "pipeline" -> Pipeline.queries,
    "rdf" -> RdfSuite.queries, "analytics" -> AnalyticsSuite.queries,
    "temporal" -> TemporalSuite.queries)

  def suiteOf(name: String): String =
    suites.find(_._2.contains(name)).map(_._1).getOrElse("unknown")

  def run(spark: SparkSession, spec: Spec, tracer: Tracer,
          out: java.util.Map[String, Any]): Unit = {
    val dir = spec.str("data")
    val steps = new java.util.ArrayList[java.util.Map[String, Any]]()
    val tLoad = System.nanoTime()
    tracer.span("setup") {
      loadSteps.foreach { case (name, step) =>
        val t0 = System.nanoTime()
        val err = try { tracer.span(s"load.$name", name)(step(spark, dir)); null }
        catch { case e: Throwable => String.valueOf(e.getMessage) }
        steps.add(jmap("name" -> name, "s" -> ms(t0) / 1e3, "error" -> err))
      }
    }
    out.put("load_s", ms(tLoad) / 1e3)
    out.put("load_steps", steps)
    out.put("catalog_bytes_setup", catalogBytes())
    unpersistAll(spark)

    val names = spec.strs("queries")
    val forced = spec.strs("forced")
    out.put("oracle_sql", (names ++ forced).distinct
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap.asJava)
    out.put("suites", (names ++ forced).map(n => n -> suiteOf(n)).toMap.asJava)
    // The forced queries read the same tables under another Catalog key, so
    // the load-time artifacts they use (the OWL closure among them) are
    // rebuilt with the bounds at 0 in every pass, then dropped.
    val forcedDir = s"$dir/."
    val records = new java.util.ArrayList[java.util.Map[String, Any]]()
    val deadline = System.nanoTime() + spec.int("seconds") * 1000000000L
    var pass = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      names.foreach(n => records.add(runQuery(spark, tracer, dir, n, s"$pass:$n")))
      localBounds.foreach(spark.conf.set(_, "0"))
      try forced.foreach(n => records.add(runQuery(spark, tracer, forcedDir, n, s"$pass:forced/$n")))
      finally {
        localBounds.foreach(spark.conf.unset)
        Catalog.drop(forcedDir)
      }
      out.put(s"pass_${pass}_s", ms(t0) / 1e3)
      pass += 1
    }
    out.put("passes", pass)
    out.put("queries", records)
  }

  private def runQuery(spark: SparkSession, tracer: Tracer, dir: String,
                       name: String, op: String): java.util.Map[String, Any] = {
    val suite = suiteOf(name)
    val t0 = System.nanoTime()
    val (rows, err) = tracer.span("query", op) {
      try {
        val fn = SparkEntry.queries(name)
        val df = tracer.span(s"$suite.build", name)(fn(spark, dir))
        (tracer.span(s"$suite.action", name)(count(tracer, df)), null)
      } catch { case e: Throwable => (-1L, String.valueOf(e.getMessage)) }
    }
    val elapsed = ms(t0)
    unpersistAll(spark)
    jmap("op" -> op, "name" -> name, "ms" -> elapsed, "rows" -> rows, "error" -> err)
  }

  /** `df.count()`; traced runs build the same aggregate by hand so that its
    * Catalyst phase times can be read off its QueryExecution.
    */
  private def count(tracer: Tracer, df: DataFrame): Long =
    if (!tracer.enabled) df.count()
    else {
      val agg = df.groupBy().count()
      val n = agg.collect()(0).getLong(0)
      Endpoint.phases(tracer, agg)
      n
    }
}
