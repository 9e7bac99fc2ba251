package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{SparkEntry, Tables}
import graft.util.Bounded

/** Dev profiler: run one named SparkEntry query repeatedly under the
  * bench environment (local[N], N shuffle partitions) and print per-run
  * wall time, codegen compiles and compile ms (a warm run that still
  * compiles is a generated-class cache miss), plus the formatted executed
  * plan. After each run it prints the `Bounded` strategy record of every
  * site that ran (e.g. owl: local). Usage:
  *
  *   runMain graft.tools.Prof <name> [sfDir] [runs] [key=value ...]
  *
  * Each trailing `key=value` sets a Spark conf on the session, e.g.
  * `spark.graft.owlLocalMaxFacts=0` forces the distributed OWL fixpoint.
  * Run 1 of a query over a Catalog artifact builds the artifact; the
  * later runs are the warm query.
  *
  * Reads SPARK_GRAFT_CPUS like Bench (default 4) so numbers are
  * comparable to the committed record; SPARK_GRAFT_SHUFFLE_PARTS
  * (default = cpus) decouples the shuffle-partition count for
  * partition-count tuning sweeps.
  */
object Prof {
  def main(argv: Array[String]): Unit = {
    val (confs, args) = argv.partition(_.contains('='))
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Tables.session()
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
      .foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val fn = SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val (c0, ns0) =
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
      println(f"[prof] $name run $i: $dt%.2fs rows=$n compiles=$compiles compile=$compileMs%.0fms")
      Bounded.drain().toSeq.sorted.foreach { case (site, strategy) =>
        println(s"[prof]   $site: $strategy")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    println("[prof] plan:")
    println(fn(spark, sfDir).queryExecution.executedPlan.toString.take(8000))
    spark.stop()
  }
}
