package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{SparkEntry, Tables}

/** Dev profiler: run one named SparkEntry query repeatedly under the
  * bench environment (local[N], N shuffle partitions) and print per-run
  * wall time, codegen compiles and compile ms (a warm run that still
  * compiles is a generated-class cache miss), plus the formatted executed
  * plan. Usage:
  *
  *   runMain graft.tools.Prof <name> [sfDir] [runs]
  *
  * Reads SPARK_GRAFT_CPUS like Bench (default 4) so numbers are
  * comparable to the committed record; SPARK_GRAFT_SHUFFLE_PARTS
  * (default = cpus) decouples the shuffle-partition count for
  * partition-count tuning sweeps.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Tables.session()
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
      .foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
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
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    println("[prof] plan:")
    println(fn(spark, sfDir).queryExecution.executedPlan.toString.take(8000))
    spark.stop()
  }
}
