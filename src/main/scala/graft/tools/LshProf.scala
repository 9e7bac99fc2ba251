package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Dev probe: the two LSH bucket computations in isolation — the exploded
  * dims x planes shape (two shuffled aggregations, whole-stage codegen)
  * vs the per-row fold (zero shuffle, interpreted higher-order lambdas) —
  * plus a parity count, so the shuffle-vs-codegen trade is measured, not
  * guessed. Usage: runMain graft.tools.LshProf [sfDir] [runs]
  */
object LshProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 4
    val planes = 8
    val spark = Tables.session()
    import graft.pipeline.Similarity.{lshBucketCol, planeComponent}
    val emb = Tables.load(spark, sfDir, "embeddings")
    val e = emb.select(col("vec_id"),
                       col("embedding").cast(ArrayType(DoubleType)).as("v"))
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[lshprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    val exploded = e
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), col("x"),
              explode(sequence(lit(0), lit(planes - 1))).as("j"))
      .withColumn("contrib", col("x") * planeComponent(col("j"), col("d")))
      .groupBy("vec_id", "j")
      .agg(sum(col("contrib")).as("dot"))
      .groupBy("vec_id")
      .agg(sum(when(col("dot") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
                 .otherwise(0L)).as("bucket"))
    val perRow = e.select(col("vec_id"),
                          lshBucketCol(col("v"), planes).as("bucket"))
    for (i <- 1 to runs) {
      t(s"exploded pass $i")(noop(exploded))
      t(s"per-row pass $i")(noop(perRow))
    }
    val diff = exploded.as("a").join(perRow.as("b"), Seq("vec_id"))
      .filter(col("a.bucket") =!= col("b.bucket")).count()
    println(s"[lshprof] parity diff rows: $diff")
    spark.stop()
  }
}
