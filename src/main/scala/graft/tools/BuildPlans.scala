package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.Tables

/** Dev tool: dump `.explain("formatted")` for load-step BUILD plans that
  * no SparkEntry query's explain contains (the queries read the finished
  * Catalog parquet) — the plan evidence for load-phase optimizations.
  * Usage: runMain graft.tools.BuildPlans <outDir> [sfDir]
  */
object BuildPlans {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Tables.session(logLevel = "ERROR")
    Files.createDirectories(outDir)
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
      println(s"[buildplans] wrote $name.txt (${txt.length} chars)")
    }
    val docs = Tables.load(spark, sfDir, "documents")
    // simhash build: the shipped one-aggregation wide form
    dump("loadstep_simhash_after", graft.pipeline.Dedup.simhash(docs))
    // the pre-r13 explode-x-bits form, reconstructed for the before plan
    import graft.pipeline.TextPrep.{hash64, words}
    val legacy = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .withColumn("h", hash64(col("w")))
      .select(col("doc_id"), col("h"),
              explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("vote", expr("shiftright(h, b)") % 2 * 2 - 1)
      .groupBy("doc_id", "b")
      .agg(sum(col("vote")).as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
                 .otherwise(0L)).as("simhash"))
    dump("loadstep_simhash_before", legacy)
    // fts index build: the shipped window-norm weigh vs the pre-r13
    // groupBy(doc)+join(doc) norm shape (which planned the tf-join-df
    // subtree twice)
    val fdocs = docs.select(col("doc_id").as("doc"), col("text"))
    dump("loadstep_fts_after", graft.search.FullText.buildIndex(fdocs))
    locally {
      import graft.search.FullText.tokens
      val n = fdocs.count()
      val tf = graft.util.Fixpoint.materialize(
        fdocs.select(col("doc"), explode(tokens(col("text"))).as("term"))
          .groupBy("term", "doc").agg(count(lit(1)).as("tf")))
      val df_ = tf.groupBy("term").agg(count_distinct(col("doc")).as("df"))
      val weighted = tf.join(df_, "term")
        .withColumn("w",
          (lit(1.0) + log(col("tf"))) * log(lit(n.toDouble) / col("df")))
      val norms = weighted.groupBy("doc")
        .agg(sqrt(sum(col("w") * col("w"))).as("dnorm"))
      dump("loadstep_fts_before",
        weighted.join(norms, "doc").select("term", "doc", "tf", "w", "dnorm"))
    }
    spark.stop()
  }
}
