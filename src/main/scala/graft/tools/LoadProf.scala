package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables

/** Dev probe: decompose the bench's load phase — for the expensive Catalog
  * artifacts, time the computation (noop sink) separately from the parquet
  * write, so "load is slow" resolves to the guilty stage.
  * Usage: runMain graft.tools.LoadProf [sfDir]
  */
object LoadProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Tables.session()
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[lprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("doc"), col("text"))
    t("split only")(noop(
      docs.select(col("doc"), explode(split(lower(col("text")),
        graft.search.FullText.Analyzer.default.splitPattern)).as("t"))))
    for (i <- 1 to 2)
      t(s"full tokens pass $i")(noop(
        docs.select(col("doc"),
          explode(graft.search.FullText.tokens(col("text"))).as("term"))))
    t("fts buildIndex compute")(noop(graft.search.FullText.buildIndex(docs)))
    t("fts buildIndex write")(
      graft.search.FullText.buildIndex(docs).write.mode("overwrite")
        .parquet("/tmp/lprof-fts"))

    spark.stop()
  }
}
