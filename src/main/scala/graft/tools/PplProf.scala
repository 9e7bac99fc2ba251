package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Dev probe (the WarcProf discipline): isolates pplBuckets' BUCKETING
  * stage from the (dominant at bench scale) cross-entropy scoring, on a
  * synthetic one-language score frame where the single-reducer NTILE
  * defect is the entire query — the measurement behind SURVEY §6.1b.
  * Both variants replay the exact shapes in LanguageModel.pplBuckets
  * (the NTILE window this round removed vs the distributed rank that
  * replaced it). Usage: runMain graft.tools.PplProf [nRows]
  */
object PplProf {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000000L
    val spark = Tables.session()
    // synthetic per-document score frame: ONE dominant language, rounded
    // 6dp scores over a ~7-nat range (ppl-bucket reality)
    val scored = spark.range(n).select(
      lit("en").as("lang"), col("id").as("doc_id"),
      round((pmod(col("id") * 2654435761L, lit(7000000L))).cast("double") / 1e6, 6)
        .as("cross_entropy"))
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val c = df.count()
        println(f"[pplprof] $label run $i: ${(System.nanoTime()-t0)/1e9}%.2fs rows=$c")
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cross_entropy"), col("doc_id"))
    time("ntile-window") {
      scored.withColumn("bucket", ntile(3).over(w).cast(LongType))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("cross_entropy").as("min_ce"),
             max("cross_entropy").as("max_ce"), sum("doc_id").as("id_sum"))
    }
    time("distributed-rank") {
      // the new pplBuckets stages 1-3 over the same scored frame
      val k = 3L
      val grp = scored.groupBy(col("lang"), col("cross_entropy"))
        .agg(count(lit(1)).as("__cnt"), sum(col("doc_id")).as("__gsum"))
      val wLang = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      val wCum = wLang.orderBy(col("cross_entropy"))
      def bucketOf(r: org.apache.spark.sql.Column, nn: org.apache.spark.sql.Column) = {
        val q = floor(nn / k); val m = nn % k; val thr = m * (q + lit(1L))
        when(r <= thr, floor((r - lit(1L)) / (q + lit(1L))) + lit(1L))
          .otherwise(m + floor((r - lit(1L) - thr) / q) + lit(1L)).cast(LongType)
      }
      val spans = grp.withColumn("__cum_end", sum(col("__cnt")).over(wCum))
        .withColumn("__n", sum(col("__cnt")).over(wLang))
        .withColumn("__cum_start", col("__cum_end") - col("__cnt"))
        .withColumn("__b_lo", bucketOf(col("__cum_start") + lit(1L), col("__n")))
        .withColumn("__b_hi", bucketOf(col("__cum_end"), col("__n")))
      val whole = spans.filter(col("__b_lo") === col("__b_hi"))
        .select(col("lang"), col("__b_lo").as("bucket"), col("__cnt").as("__ndocs"),
                col("cross_entropy").as("__ce"), col("__gsum").as("__idsum"))
      val strad = spans.filter(col("__b_lo") < col("__b_hi"))
        .select(col("lang"), col("cross_entropy"), col("__cum_start"), col("__n"))
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("cross_entropy")).orderBy(col("doc_id"))
      val split = scored.join(broadcast(strad), Seq("lang", "cross_entropy"))
        .withColumn("__r", col("__cum_start") + row_number().over(wTie))
        .select(col("lang"), bucketOf(col("__r"), col("__n")).as("bucket"),
                lit(1L).as("__ndocs"), col("cross_entropy").as("__ce"),
                col("doc_id").as("__idsum"))
      whole.unionByName(split).groupBy(col("lang"), col("bucket"))
        .agg(sum(col("__ndocs")).as("n_docs"), min(col("__ce")).as("min_ce"),
             max(col("__ce")).as("max_ce"), sum(col("__idsum")).as("id_sum"))
    }
    spark.stop()
  }
}
