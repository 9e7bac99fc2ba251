package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Fixpoint.materialize

/** Dev probe: phase timings for the rdf_path_chain closure — dict encode,
  * functionality detection, pointer-jump rounds, pair emission, decode —
  * replicated from Paths.closureLoop/chainClosure so each phase gets its
  * own wall clock (the executed plan of the query shows only the final
  * scan; the loop's cost structure is invisible from outside).
  * Usage: runMain graft.tools.PathProf [sfDir]
  */
object PathProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Tables.session()
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[pprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    // the chain edge relation as term-free longs (the real query runs over
    // term structs then dict-encodes; this probe starts from the encoded
    // shape to time the closure machinery itself)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val edges0 = Tables.load(spark, sfDir, "events")
      .withColumn("nxt", lead(col("event_id"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_id").as("src"), col("nxt").as("dst"))
    val e = t("edges ckpt")(materialize(edges0.distinct()))

    def maxDeg(c: String): Long =
      e.groupBy(col(c)).count()
        .agg(coalesce(max("count"), lit(0L))).first().getLong(0)
    t("maxDeg src")(maxDeg("src"))
    t("maxDeg dst")(maxDeg("dst"))
    val edgeCount = t("edgeCount")(e.count())
    val jumpBound = math.min(64,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(edgeCount, 1L)) + 2)

    val nodes = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n"))).distinct()
    val preds = e.select(col("dst").as("n"), col("src").as("p0"))
    var st = t("st init")(materialize(nodes.join(preds, Seq("n"), "left_outer")
      .select(col("n"), coalesce(col("p0"), col("n")).as("ptr"),
              when(col("p0").isNull, 0L).otherwise(1L).as("pos"))))
    def posSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("pos").cast("decimal(38,0)")),
                      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .first().getDecimal(0)
    var last = t("posSum0")(posSum(st))
    var i = 0
    var doneSt: DataFrame = null
    while (i < jumpBound && doneSt == null) {
      val jumped = st.as("a").join(st.as("b"), col("a.ptr") === col("b.n"))
        .select(col("a.n").as("n"), col("b.ptr").as("ptr"),
                (col("a.pos") + col("b.pos")).as("pos"))
      st = t(s"jump $i ckpt")(materialize(jumped))
      val cur = t(s"jump $i posSum")(posSum(st))
      if (cur.compareTo(last) == 0) doneSt = st
      last = cur
      i += 1
    }
    println(s"[pprof] jump rounds: $i")
    val pairs = doneSt.as("a")
      .join(doneSt.as("b"),
            col("a.ptr") === col("b.ptr") && col("a.pos") < col("b.pos"))
      .select(col("a.n").as("src"), col("b.n").as("dst"))
    t("pair emission (noop)")(
      pairs.write.format("noop").mode("overwrite").save())
    t("pair count")(println("[pprof] pairs: " + pairs.count()))
    spark.stop()
  }
}
