package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.search.FullText

/** Dev A/B probe (VERDICT r12 item 5): per-language posting analysis as
  * the shipped single-pass when-chain vs a filter+union split per
  * language group. The split pays one corpus scan per language group but
  * each branch is a smaller expression tree; the when-chain scans once
  * and picks one branch per row. Usage: runMain graft.tools.LangProf [sfDir]
  */
object LangProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Tables.session()
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("doc"), col("text"), col("lang"))

    // the when-chain variant (the pre-r13 tfPostingsByLang form); the
    // split-union side is the shipped FullText.tfPostingsByLang
    def whenChain(): DataFrame =
      docs.select(col("doc"),
          explode(FullText.tokensByLang(col("text"), col("lang"))).as("term"))
        .groupBy("term", "doc").agg(count(lit(1)).as("tf"))
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[langprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // alternate A/B, 3 rounds each, so ambient drift hits both forms
    for (i <- 1 to 3) {
      t(s"when-chain $i")(noop(whenChain()))
      t(s"split-union $i")(noop(FullText.tfPostingsByLang(docs)))
    }
    // parity: same postings either way
    val a = whenChain()
    val b = FullText.tfPostingsByLang(docs)
    val diff = a.except(b).count() + b.except(a).count()
    println(s"[langprof] parity diff rows: $diff")
    spark.stop()
  }
}
