package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.Tables

/** Runs one benchmark workload against the engine in this JVM and writes
  * what it observed as JSON: per-operation timings and answers, set-up
  * times, heap and catalog sizes, and (traced runs) the spans.
  *
  * Usage: Harness <spec.json>. The spec is written by perfbench/run.py,
  * which generates the inputs and checks the answers; this side only
  * drives the engine, so nothing here knows what a right answer is.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Spec(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def strs(k: String): Seq[String] =
      Option(node.get(k)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
  }

  def main(args: Array[String]): Unit = {
    val spec = Spec(mapper.readTree(Files.readString(Paths.get(args(0)))))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(spec.int("cores"))
    val sessionReadyS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark, spec.int("trace") == 1)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("session_s", sessionReadyS)
    try {
      spec.str("kind") match {
        case "endpoint" => Endpoint.run(spark, spec, tracer, out)
        case "batch" => Batch.run(spark, spec, tracer, out)
        case "validate" => Endpoint.validate(spark, spec, out)
      }
      out.put("catalog_bytes", catalogBytes())
      out.put("heap_live_mb", heapLiveMb())
      tracer.drain()
      if (tracer.enabled) out.put("spans", tracer.records.asJava)
    } finally spark.stop()
    Files.writeString(Paths.get(spec.str("out")), mapper.writeValueAsString(out), UTF_8)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config(Tables.requiredConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Driver heap in use after full collections: the least of five, since
    * a collection can leave garbage that the next one frees.
    */
  def heapLiveMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Bytes under this JVM's catalog directory (java.io.tmpdir/graft-catalog-<pid>). */
  def catalogBytes(): Long = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-catalog-${ProcessHandle.current().pid()}")
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Files.size(p)).sum
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
