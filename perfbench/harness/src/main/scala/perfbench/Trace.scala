package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Counters a span collects; listener counters are the span's own (jobs of
  * nested spans go to the innermost one), codegen deltas are inclusive.
  */
object Counter extends Enumeration {
  val jobs, stages, tasks, task_busy_ms, sched_delay_ms, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, failed_tasks, job_ms, compile_ms,
    compiles = Value
}

final class Span(val id: Int, val parent: Int, val name: String,
                 val op: String, val start: Long) {
  @volatile var end: Long = 0L
  val counters = new Array[Double](Counter.maxId)
  def add(c: Counter.Value, v: Double): Unit = synchronized { counters(c.id) += v }
  var attrs: Map[String, Any] = Map.empty
}

/** Records spans around calls into the engine's public functions. When
  * disabled, `span` runs its body and records nothing, so untraced runs
  * carry no listener and no bookkeeping.
  *
  * Spark jobs are attributed to a span through a local property set on the
  * calling thread, or through the job group the SPARQL server sets from a
  * request's `queryId` (`pb-<span id>`), for work done on server threads.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private val origin = System.nanoTime()

  if (enabled) spark.sparkContext.addSparkListener(new Listener)

  def current: Option[Span] = stack.headOption

  /** The id a request should carry as its `queryId`, for the open span. */
  def requestId: Option[String] = stack.headOption.map(s => s"pb-${s.id}")

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, op, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      val ct0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try body
      finally {
        s.end = System.nanoTime()
        s.add(Counter.compile_ms, (CodeGenerator.compileTime - ct0) / 1e6)
        s.add(Counter.compiles, (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
        sc.setLocalProperty(Prop, prev)
        stack = stack.tail
      }
    }

  /** Delivers every pending listener event, so counters are complete. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(spark.sparkContext)

  /** Spans as JSON-ready maps; times in ms from the tracer's creation. */
  def records: Seq[java.util.Map[String, Any]] = spans.toSeq.map { s =>
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
    m.put("op", s.op)
    m.put("start_ms", (s.start - origin) / 1e6)
    m.put("end_ms", (s.end - origin) / 1e6)
    Counter.values.foreach(c => m.put(c.toString, s.counters(c.id)))
    s.attrs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Span]()
    private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()

    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap { p =>
        Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith("pb-"))
          .map(_.stripPrefix("pb-"))
          .orElse(Option(p.getProperty(Prop)))
      }.flatMap(_.toIntOption).flatMap(i => Option(byId.get(i)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.add(Counter.jobs, 1)
        jobStart.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        s.add(Counter.job_ms, (e.time - t0).toDouble)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add(Counter.stages, 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add(Counter.tasks, 1)
        val info = e.taskInfo
        if (info.failed) s.add(Counter.failed_tasks, 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add(Counter.task_busy_ms, m.executorRunTime.toDouble)
          s.add(Counter.sched_delay_ms, math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime).toDouble)
          s.add(Counter.shuffle_read_bytes, m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add(Counter.shuffle_write_bytes, m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add(Counter.spill_bytes, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }
}
