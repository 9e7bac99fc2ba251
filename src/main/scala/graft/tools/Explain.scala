package graft.tools

import java.nio.file.{Files, Paths}
import graft.{SparkEntry, Tables}

/** Dev tool: dump `.explain("formatted")` for named SparkEntry queries to
  * files — the plan evidence the optimization rounds commit under
  * plans/r<N>/. Usage:
  *
  *   runMain graft.tools.Explain <outDir> [<suffix> [name,name,...]]
  *
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "before").
  * With no name list, dumps every query. Bench environment (local[N] from
  * SPARK_GRAFT_CPUS, shuffle partitions = cpus) so plans match what the
  * bench executes.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = if (args.length > 1) args(1) else "before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session(logLevel = "ERROR")
    Files.createDirectories(outDir)
    names.foreach { name =>
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"EXPLAIN FAILED: ${e}" }
      Files.write(outDir.resolve(s"${name}_${suffix}.txt"),
                  txt.getBytes("UTF-8"))
      println(s"[explain] wrote ${name}_${suffix}.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
