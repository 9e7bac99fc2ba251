package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Fixpoint.materialize

/** Dev probe: instrument the connectedComponents round structure on the
  * bench's chain graph — per-round wall time and the AQE-final executed
  * plan of one round — so loop restructurings are argued from evidence,
  * not the pre-execution plan (which for checkpoint-driven loops shows
  * only the final scan). Usage: runMain graft.tools.GraphProf [sfDir]
  */
object GraphProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Tables.session()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("nxt", lead(col("event_id"), 1).over(w))
      .filter(col("nxt").isNotNull)
    val edges = ev.select(col("event_id").as("src"), col("nxt").as("dst"))
      .unionByName(ev.select(col("nxt").as("src"), col("event_id").as("dst")))

    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[gprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    // variant A: the shipped ptr^3 round; variant B: ptr^4 via jump∘jump;
    // variant C: A + edge frame checkpointed WITH HashPartitioning(src)
    // preserved (plain localCheckpoint, no fresh ids); variant D: C + the
    // label frame also keyed-checkpointed (groupBy(node) partitioning kept)
    val variant = sys.env.getOrElse("GPROF_VARIANT", "A")
    def keyedCkpt(df: DataFrame): DataFrame = df.localCheckpoint(true)
    // replicate Graphs.connectedComponents with timings
    val e = t("edges distinct+ckpt")(
      if (variant == "C" || variant == "D")
        keyedCkpt(edges.select("src", "dst").repartition(col("src"))
          .dropDuplicates("src", "dst"))
      else materialize(edges.select("src", "dst").distinct()))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var labels = t("labels init")(materialize(nodes.withColumn("component", col("node"))))
    def checksum(df: DataFrame): (Long, Long) =
      graft.util.Fixpoint.fingerprint(df, col("node"), col("component"))
    var sum0 = t("fingerprint0")(checksum(labels))
    var i = 0
    var done = false
    var lastRound: DataFrame = null
    while (i < 50 && !done) {
      val fromNbr = labels.join(e, labels("node") === e("src"))
        .select(e("dst").as("node"), labels("component"))
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.component") === col("b.node"))
        .select(col("a.node").as("node"), col("b.component").as("component"))
      val jump2 =
        if (variant == "B")
          jump.as("a").join(jump.as("b"), col("a.component") === col("b.node"))
            .select(col("a.node").as("node"), col("b.component").as("component"))
        else
          jump.as("a").join(labels.as("b"), col("a.component") === col("b.node"))
            .select(col("a.node").as("node"), col("b.component").as("component"))
      val round = fromNbr.unionByName(jump2)
        .groupBy("node").agg(min(col("component")).as("component"))
      lastRound = round
      val next = t(s"round $i materialize")(
        if (variant == "D") keyedCkpt(round) else materialize(round))
      val sum1 = t(s"round $i fingerprint")(checksum(next))
      if (sum1 == sum0) done = true
      sum0 = sum1
      labels = next
      i += 1
    }
    println(s"[gprof] rounds: $i variant=$variant")
    // re-execute one round frame so the AQE-final plan is visible
    if (lastRound != null) {
      lastRound.write.format("noop").mode("overwrite").save()
      println("[gprof] final-round executed plan (AQE final):")
      println(lastRound.queryExecution.executedPlan.toString.take(6000))
    }
    spark.stop()
  }
}
