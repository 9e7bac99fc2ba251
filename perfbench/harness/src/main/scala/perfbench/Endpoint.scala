package perfbench

import java.net.URI
import java.net.URLEncoder.encode
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}
import graft.queries.{Catalog, RdfSuite}
import graft.rdf.{NTriples, Term}
import graft.server.SparqlServer
import graft.sparql.{Parser, Results, Update}
import Harness._

/** The SPARQL endpoint workloads: one closed-loop client sends the spec's
  * operation list over HTTP to an in-process SparqlServer serving the quad
  * store derived from the source tables.
  *
  * Set-up (building the store) is repeated `setup_repeats` times. The list
  * is then run once cold and again, warm, until `seconds` have passed; each
  * pass starts a fresh server on the same base store, so every pass sees
  * the same sequence of commits. Traced runs replay every operation
  * in-process after its request, one span per engine layer.
  */
object Endpoint {

  def run(spark: SparkSession, spec: Spec, tracer: Tracer,
          out: java.util.Map[String, Any]): Unit = {
    val dir = spec.str("data")
    var store: DataFrame = null
    val cycles = (1 to spec.int("setup_repeats")).map { i =>
      if (i > 1) Catalog.drop(dir)
      val t0 = System.nanoTime()
      tracer.span("setup") {
        store = tracer.span("load.quads")(RdfSuite.buildQuads(spark, dir))
        store.count()
      }
      ms(t0) / 1e3
    }
    out.put("setup_cycles_s", cycles.asJava)

    val ops = spec.node.get("ops").elements().asScala.toIndexedSeq
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .proxy(HttpClient.Builder.NO_PROXY).build()
    val records = new java.util.ArrayList[java.util.Map[String, Any]]()
    val deadline = System.nanoTime() + spec.int("seconds") * 1000000000L
    var pass = 0
    var lastServer: SparqlServer = null
    var commits = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      val srv = new SparqlServer(spark, store).start()
      val base = s"http://127.0.0.1:${srv.boundPort}/sparql"
      commits = 0
      val tPass = System.nanoTime()
      ops.zipWithIndex.foreach { case (op, i) =>
        val form = op.get("form").asText()
        val text = op.get("text").asText()
        val pre = srv.current
        val t0 = System.nanoTime()
        val (code, body) = tracer.span("server.request", s"$pass:$i") {
          send(client, base, form, text, tracer.requestId)
        }
        val elapsed = ms(t0)
        if (code / 100 == 2 && isUpdate(form)) commits += 1
        if (tracer.enabled)
          try replay(spark, tracer, pre, form, text, s"$pass:$i")
          catch { case _: Throwable => } // the HTTP answer decides failure
        records.add(jmap("pass" -> pass, "i" -> i, "ms" -> elapsed,
          "status" -> code, "body" -> body))
      }
      out.put(s"pass_${pass}_s", ms(tPass) / 1e3)
      if (lastServer != null) lastServer.stop()
      lastServer = srv
      pass += 1
    }
    out.put("passes", pass)
    out.put("ops", records)
    out.put("commits", commits)
    out.put("store_plan_nodes",
      lastServer.current.queryExecution.logical.collect { case n => n }.size)
    lastServer.stop()
  }

  /** Parse every operation of the spec without running it: queries with
    * `Parser.parse`, updates with `Update.validate`, REST bodies and terms
    * with the N-Triples parser. Records an error message per operation.
    */
  def validate(spark: SparkSession, spec: Spec, out: java.util.Map[String, Any]): Unit = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
      Seq("s", "p", "o", "c").map(StructField(_, Term.schema))))
    val errors = spec.node.get("ops").elements().asScala.map { op =>
      val text = op.get("text").asText()
      try {
        op.get("form").asText() match {
          case "update" => Update.validate(spark, empty, text)
          case "post" => require(NTriples.parseDocJvmQuads(text).nonEmpty, "no statements")
          case "delete" => NTriples.parseTermJvm(text)
          case "estcard" =>
          case _ => Parser.parse(spark, text)
        }
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    }.toSeq
    out.put("errors", errors.asJava)
  }

  private def isUpdate(form: String): Boolean =
    form == "update" || form == "post" || form == "delete"

  private def send(client: HttpClient, base: String, form: String, text: String,
                   queryId: Option[String]): (Int, String) = {
    val qid = queryId.map(q => s"queryId=$q").toSeq
    def params(kv: String*) = (kv ++ qid).mkString("&")
    val req = form match {
      case "update" =>
        HttpRequest.newBuilder(URI.create(base))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(
            params("update=" + encode(text, UTF_8)))).build()
      case "post" =>
        HttpRequest.newBuilder(URI.create(base + "?" + params()))
          .header("Content-Type", "application/n-triples")
          .POST(HttpRequest.BodyPublishers.ofString(text)).build()
      case "delete" =>
        HttpRequest.newBuilder(URI.create(base + "?" + params("s=" + encode(text, UTF_8))))
          .DELETE().build()
      case "estcard" =>
        HttpRequest.newBuilder(URI.create(base + "?ESTCARD")).GET().build()
      case _ =>
        HttpRequest.newBuilder(URI.create(base + "?" + params("query=" + encode(text, UTF_8))))
          .GET().build()
    }
    try {
      val r = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
      (r.statusCode(), r.body())
    } catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }
  }

  /** The same operation through the library calls the server makes, one
    * span per layer: parse, DataFrame construction (with its eager jobs),
    * result serialization (the final action), or the update.
    */
  private def replay(spark: SparkSession, tracer: Tracer, store: DataFrame,
                     form: String, text: String, op: String): Unit =
    tracer.span("inprocess", op) {
      form match {
        case "update" => tracer.span("sparql.update", op)(Update.execute(spark, store, text))
        case "select" | "ask" | "describe" | "construct" =>
          tracer.span("sparql.parse", op)(Parser.parse(spark, text))
          val body = form match {
            case "ask" =>
              tracer.span("sparql.build", op)(Parser.ask(spark, store, text)).toString
            case "select" =>
              val df = tracer.span("sparql.build", op)(Parser.select(spark, store, text))
              tracer.span("sparql.results", op) {
                val s = Results.toJson(df)
                phases(tracer, df)
                s
              }
            case _ =>
              val df = tracer.span("sparql.build", op) {
                if (form == "describe") Parser.describe(spark, store, text)
                else Parser.construct(spark, store, text)
              }
              tracer.span("sparql.results", op) {
                val sel = df.select(NTriples.termToString(col("s")),
                  NTriples.termToString(col("p")), NTriples.termToString(col("o")))
                val s = sel.collect().map(r => s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} .")
                  .mkString("\n")
                phases(tracer, sel)
                s
              }
          }
          tracer.current.foreach(s => s.attrs += ("results_bytes" -> body.getBytes(UTF_8).length))
        case _ =>
      }
    }

  /** Attach the final action's Catalyst phase times to the open span. */
  def phases(tracer: Tracer, df: DataFrame): Unit = tracer.current.foreach { s =>
    val p = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      s.attrs += (s"${k}_ms" -> p.get(k).map(_.durationMs).getOrElse(0L))
    }
  }
}
