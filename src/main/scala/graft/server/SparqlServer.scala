package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.rdf.{NTriples, QuadStore, RdfXml, Term, Turtle}
import graft.sparql.{Parser, Results, Update}

/** SPARQL-over-HTTP facade — the NanoSparqlServer analogue
  * (/root/reference/bigdata-sails/src/java/com/bigdata/rdf/sail/webapp/
  * NanoSparqlServer.java:79, RESTServlet.java:43, QueryServlet.java:88).
  *
  * Endpoints (on the JDK's built-in HTTP server; zero dependencies):
  *   GET  /sparql?query=...       SELECT→JSON (Accept: xml→XML), ASK→JSON/XML,
  *                                CONSTRUCT/DESCRIBE→N-Triples (Accept:
  *                                turtle→Turtle); `&timestamp=<gen>` reads a
  *                                historical commit point (bounded history);
  *                                `&uuid` mints a queryId
  *   POST /sparql                 form body `query=` (as GET) or `update=`
  *                                (SPARQL UPDATE; mutates the served store)
  *   GET  /sparql                 (no params) SPARQL 1.1 Service
  *                                Description + VoID stats (N-Triples)
  *   GET  /sparql?ESTCARD[&s=<iri>][&p=<iri>][&o=<iri>]   fast cardinality
  *   GET  /sparql?CONTEXTS        named-graph listing (N-Triples terms)
  *   GET  /sparql?query=...&explain   EXPLAIN instead of running (algebra
  *                                + scope + marker counts + physical plan)
  *
  * REST data API (the InsertServlet/DeleteServlet/UpdateServlet surface,
  * RESTServlet.java:192-266 dispatch; mutation responses are the
  * reference's `<data modified="N" milliseconds="M"/>` document):
  *   POST /sparql (RDF body)      insert statements; Content-Type picks the
  *                                parser (Turtle/TriG/N-Triples/N-Quads/
  *                                RDF/XML); ?context-uri=<g> sets the graph
  *                                for statements without one
  *   POST /sparql?delete (RDF body)  remove the body's exact statements
  *   POST /sparql?uri=<u>[&uri=..]   fetch + insert documents (format by
  *                                extension, fetched URI = parse base)
  *   DELETE /sparql?query=...     remove a CONSTRUCT/DESCRIBE result's
  *                                statements from every context
  *   DELETE /sparql[?s=..][&p=..][&o=..][&c=..]   access-path delete
  *                                (absent = wildcard; terms in N-Triples
  *                                syntax, bare value = IRI)
  *   PUT  /sparql?query=... (RDF body)   DELETE+INSERT in one commit
  *
  *   GET  /status                 liveness + store size + running count
  *   GET  /status?showQueries     one line per in-flight query/update
  *   GET/POST /status?cancelQuery&queryId=<id>   terminate a running query
  *   GET  /counters               engine counters (queries/updates/aborts,
  *                                uptime, cache sizes, JVM-wide codegen
  *                                compiles and compile ms) as JSON
  *
  * Multi-tenancy (the MultiTenancyServlet surface,
  * /root/reference/bigdata-sails/src/java/com/bigdata/rdf/sail/webapp/
  * MultiTenancyServlet.java:66 — create/list/destroy namespaces at
  * runtime, one isolated store each; the reference's default namespace is
  * "kb", NanoSparqlServer.java:121):
  *   GET    /namespace                list namespaces (text/plain, one per line)
  *   GET    /namespace/<ns>/properties  tenant metadata (JSON)
  *   POST   /namespace?name=<ns>     create an empty namespace (409 if taken)
  *   DELETE /namespace/<ns>          destroy a namespace (default refused)
  *   *      /namespace/<ns>/sparql   the full /sparql surface on <ns>'s store
  * `/sparql` is an alias for `/namespace/kb/sparql`.
  *
  * Each namespace's store is an AtomicReference swapped by updates — the
  * functional-store analogue of the reference's unisolated-writer commit.
  * The HTTP layer is deliberately thin: every query runs through exactly
  * the library pipeline (§3.1/§3.3); a production deployment would put the
  * same calls behind Spark Connect instead.
  *
  * Query lifecycle management (the StatusServlet surface,
  * /root/reference/bigdata-sails/src/java/com/bigdata/rdf/sail/webapp/
  * StatusServlet.java:136-320, running-query registry
  * BigdataRDFContext.java:247,938): every query/update evaluation is
  * admitted under a queryId (client-supplied `queryId` param — the
  * QueryHints.QUERYID channel, BigdataRDFContext.java:906 — or a fresh
  * UUID, echoed back as the X-Query-Id response header) and runs inside a
  * Spark job group named by that id with interrupt-on-cancel, so
  * `cancelQuery` maps to `SparkContext.cancelJobGroup` — distributed tasks
  * are actually killed, not just the HTTP thread abandoned. `timeout=<ms>`
  * per request, or the `queryTimeoutMs` constructor default, arms a
  * watchdog that cancels the group at the deadline (the QUERY_TIMEOUT
  * config, ConfigParams.java:127-133, applied per query at
  * BigdataRDFContext.java:1023-1029; 0 = no limit). Cancellation re-fires
  * until the evaluation unwinds: driver-side fixpoint loops launch a NEW
  * job per round into the same group, and a single cancel only kills jobs
  * already running.
  */
class SparqlServer(spark: SparkSession, initial: DataFrame, port: Int = 0,
                   queryTimeoutMs: Long = 0L) {

  /** One tenant: an immutable-store cell plus its update generation (the
    * per-namespace DESCRIBE-cache invalidation key).
    */
  private final class Namespace(init: DataFrame) {
    val store = new AtomicReference[DataFrame](init)
    val generation = new AtomicLong(0L)
    // bounded snapshot history for `timestamp=` historical reads (the
    // reference's commit-point reads, QueryServlet.getTimestamp →
    // getTripleStore(ns, timestamp)): store frames are immutable, so a
    // generation → frame map IS the commit history; keep the last 8
    private val history =
      new java.util.concurrent.ConcurrentSkipListMap[Long, DataFrame]()
    history.put(0L, init)
    // Commits serialize per tenant: the store swap, the generation bump,
    // and the history entry must be one atomic step — handlers run on a
    // cached thread pool, and two interleaved updates re-reading shared
    // state could map a generation onto the OTHER commit's frame (or skip
    // a generation entirely), so a later `timestamp=<gen>` read would
    // silently serve the wrong commit point under floor semantics.
    // Queries never take this lock; they read the atomics lock-free.
    private val commitLock = new Object
    // change log for SERVICE bd:history (graft.sparql.History): each commit
    // appends one LAZY record frame (two anti-joins against the previous
    // snapshot) — queries that never touch bd:history never execute them.
    // The store frame currently published is always bound to the log.
    private val changeLog =
      new AtomicReference[DataFrame](graft.sparql.History.emptyRelation(spark))
    graft.sparql.History.bind(init, changeLog.get())
    def commit(f: DataFrame => DataFrame): DataFrame = commitLock.synchronized {
      val prev = store.get()
      val st2 = store.updateAndGet(st => f(st))
      val rev = generation.incrementAndGet()
      history.put(rev, st2)
      while (history.size > 8) history.pollFirstEntry()
      val cols = Seq("s", "p", "o", "c")
      val (a, b) = (st2.select(cols.map(col): _*), prev.select(cols.map(col): _*))
      val recs = graft.sparql.History.records(
        a.except(b), b.except(a), rev, System.currentTimeMillis())
      // one lazy union per commit is free until queried, but the plan
      // deepens per commit and each diff frame pins its snapshots'
      // lineage — a long-lived tenant would hand the analyzer a
      // thousand-leaf union. Checkpoint the accumulated log every 16
      // commits: bounded plan depth, bounded retained lineage, and the
      // log's rows (deltas only) are what actually persist.
      val grown = changeLog.updateAndGet(_.unionByName(recs))
      val bound =
        if (rev % 16 == 0) {
          val ck = grown.localCheckpoint(true)
          changeLog.set(ck)
          ck
        } else grown
      graft.sparql.History.bind(st2, bound)
      st2
    }
    /** The store as of generation `ts` (floor semantics), if not evicted. */
    def storeAt(ts: Long): Option[DataFrame] =
      Option(history.floorEntry(ts)).map(_.getValue)
  }

  val DefaultNamespace = "kb"

  private val namespaces =
    new java.util.concurrent.ConcurrentHashMap[String, Namespace]()
  namespaces.put(DefaultNamespace, new Namespace(initial))

  private val describeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), String]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** One admitted query/update evaluation (the RunningQuery entries the
    * StatusServlet renders, BigdataRDFContext.java:247).
    */
  final case class RunningQuery(queryId: String, namespace: String,
                                text: String, beginMs: Long)

  private val running =
    new java.util.concurrent.ConcurrentHashMap[String, RunningQuery]()
  private val cancelReasons =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val watchdogs =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-query-watchdog"); t.setDaemon(true); t
      })

  /** Service counters (the CountersServlet surface,
    * /root/reference/bigdata-sails/src/java/com/bigdata/rdf/sail/webapp/
    * CountersServlet.java:48 — the reference renders its com.bigdata.counters
    * hierarchy; here the engine-level counts a deployment actually watches).
    */
  private val startedAtMs = System.currentTimeMillis()
  private val nQueries = new AtomicLong(0L)
  private val nUpdates = new AtomicLong(0L)
  private val nAborted = new AtomicLong(0L)

  /** In-flight queries, oldest first (spec hook + /status?showQueries). */
  def runningQueries: Seq[RunningQuery] = {
    import scala.jdk.CollectionConverters._
    running.values.asScala.toSeq.sortBy(_.beginMs)
  }

  /** Cancel a running query by id: kills the Spark job group (active jobs'
    * tasks are interrupted) and records why, so the evaluating request can
    * report the abort reason instead of a bare Spark cancellation trace.
    * False when no such query is in flight (StatusServlet.java:262-266
    * treats that as a non-error).
    */
  def cancelQuery(queryId: String, reason: String): Boolean = {
    val rq = running.get(queryId)
    if (rq == null) false
    else {
      cancelReasons.putIfAbsent(queryId, reason)
      keepCanceling(queryId, rq)
      true
    }
  }

  /** Cancel the job group now and re-cancel every 100 ms until THIS
    * evaluation unwinds: driver-side fixpoint loops submit a fresh Spark
    * job per round into the same group, and cancelJobGroup only kills jobs
    * already running. Pinned to the registry entry (reference identity) so
    * a stale loop never kills a later evaluation reusing the queryId.
    */
  private def keepCanceling(queryId: String, rq: AnyRef): Unit =
    if (running.get(queryId).asInstanceOf[AnyRef] eq rq) {
      spark.sparkContext.cancelJobGroup(queryId)
      watchdogs.schedule((() => keepCanceling(queryId, rq)): Runnable,
        100L, java.util.concurrent.TimeUnit.MILLISECONDS)
    }

  /** Admit `body` as a managed evaluation: registry entry + job group +
    * optional timeout watchdog; unwinds all three however it exits.
    */
  private def withManagedQuery[A](ex: HttpExchange, ns: String, text: String,
                                  params: Map[String, String])(body: => A): A = {
    val id = params.get("queryId").filter(_.nonEmpty)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val timeoutMs = params.get("timeout").flatMap(_.toLongOption)
      .filter(_ > 0).getOrElse(queryTimeoutMs)
    running.put(id, RunningQuery(id, ns, text, System.currentTimeMillis()))
    ex.getResponseHeaders.set("X-Query-Id", id)
    val sc = spark.sparkContext
    sc.setJobGroup(id, s"sparql/$ns", interruptOnCancel = true)
    val watchdog =
      if (timeoutMs > 0)
        Some(watchdogs.schedule(
          (() => cancelQuery(id, s"timeout after $timeoutMs ms")): Runnable,
          timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      else None
    try body
    catch {
      case e: Throwable =>
        nAborted.incrementAndGet()
        throw Option(cancelReasons.get(id))
          .fold(e)(r => new RuntimeException(s"query $id aborted: $r", e))
    } finally {
      watchdog.foreach(_.cancel(false))
      sc.clearJobGroup()
      running.remove(id)
      cancelReasons.remove(id)
    }
  }

  private val quadSchema = StructType(Seq(
    StructField("s", Term.schema), StructField("p", Term.schema),
    StructField("o", Term.schema), StructField("c", Term.schema)))

  private def emptyStore: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], quadSchema)

  def current: DataFrame = namespaces.get(DefaultNamespace).store.get()
  def boundPort: Int = server.getAddress.getPort

  /** Namespace names currently served (spec hook + /namespace listing). */
  def namespaceNames: Seq[String] = {
    val it = namespaces.keys()
    Iterator.continually(it).takeWhile(_.hasMoreElements)
      .map(_.nextElement()).toSeq.sorted
  }

  def start(): SparqlServer = {
    server.createContext("/sparql", (ex: HttpExchange) => safely(ex) {
      handleSparql(ex, namespaces.get(DefaultNamespace), DefaultNamespace)
    })
    // namespace admin + per-namespace endpoints, dispatched on path:
    //   /namespace            (admin: list/create)
    //   /namespace/<ns>       (admin: destroy)
    //   /namespace/<ns>/sparql (tenant SPARQL surface)
    server.createContext("/namespace", (ex: HttpExchange) => safely(ex) {
      val rest = ex.getRequestURI.getPath.stripPrefix("/namespace")
        .stripPrefix("/").stripSuffix("/")
      val parts = if (rest.isEmpty) Array.empty[String] else rest.split("/")
      (ex.getRequestMethod, parts) match {
        case (_, Array(ns, "sparql")) =>
          namespaces.get(ns) match {
            case null => respond(ex, 404, "text/plain", s"no namespace $ns")
            case tenant => handleSparql(ex, tenant, ns)
          }
        // MultiTenancyServlet's per-namespace properties document
        case ("GET", Array(ns, "properties")) =>
          namespaces.get(ns) match {
            case null => respond(ex, 404, "text/plain", s"no namespace $ns")
            case tenant =>
              respond(ex, 200, "application/json",
                s"""{"namespace":"$ns","statements":${tenant.store.get().count()},""" +
                  s""""generation":${tenant.generation.get()}}""")
          }
        case ("GET", Array()) =>
          respond(ex, 200, "text/plain", namespaceNames.mkString("\n"))
        case ("POST", Array()) =>
          formParams(ex).get("name") match {
            case None | Some("") =>
              respond(ex, 400, "text/plain", "missing name param")
            case Some(ns) if !ns.matches("[A-Za-z0-9_-]+") =>
              respond(ex, 400, "text/plain", s"invalid namespace name $ns")
            case Some(ns) =>
              if (namespaces.putIfAbsent(ns, new Namespace(emptyStore)) != null)
                respond(ex, 409, "text/plain", s"namespace $ns exists")
              else respond(ex, 201, "text/plain", s"created $ns")
          }
        case ("DELETE", Array(ns)) =>
          if (ns == DefaultNamespace)
            respond(ex, 400, "text/plain", "cannot destroy the default namespace")
          else if (namespaces.remove(ns) == null)
            respond(ex, 404, "text/plain", s"no namespace $ns")
          else respond(ex, 200, "text/plain", s"destroyed $ns")
        case _ => respond(ex, 405, "text/plain", "unsupported")
      }
    })
    server.createContext("/status", (ex: HttpExchange) => safely(ex) {
      val params = formParams(ex)
      if (params.contains("cancelQuery")) {
        // StatusServlet.java:192-268 (CANCEL_QUERY): terminate by queryId;
        // an unknown id is reported, not an error — the query may simply
        // have finished already
        params.get("queryId").filter(_.nonEmpty) match {
          case None => respond(ex, 400, "text/plain", "missing queryId param")
          case Some(id) =>
            val ok = cancelQuery(id, "client cancel")
            respond(ex, 200, "text/plain",
              if (ok) s"canceled $id" else s"no such query $id")
        }
      } else if (params.contains("showQueries")) {
        // StatusServlet.java:349-392 (SHOW_QUERIES): one line per query —
        // id, namespace, elapsed, text
        val now = System.currentTimeMillis()
        val lines = runningQueries.map(q =>
          s"${q.queryId}\t${q.namespace}\t${now - q.beginMs}ms\t" +
            q.text.replaceAll("\\s+", " ").trim)
        respond(ex, 200, "text/plain", lines.mkString("\n"))
      } else
        respond(ex, 200, "application/json",
          s"""{"status":"ok","statements":${current.count()},""" +
            s""""namespaces":${namespaceNames.size},""" +
            s""""runningQueries":${running.size}}""")
    })
    // performance counters (CountersServlet.java:48): the engine-level
    // counts — queries/updates served, aborts, cache sizes, uptime — plus
    // the JVM's codegen compile totals, where a generated-class cache miss
    // on a repeated query shape shows up as compiles that keep growing
    server.createContext("/counters", (ex: HttpExchange) => safely(ex) {
      respond(ex, 200, "application/json",
        s"""{"uptimeMs":${System.currentTimeMillis() - startedAtMs},""" +
          s""""queries":${nQueries.get()},"updates":${nUpdates.get()},""" +
          s""""aborted":${nAborted.get()},"running":${running.size},""" +
          s""""namespaces":${namespaceNames.size},""" +
          s""""describeCacheEntries":${describeCache.size},""" +
          s""""codegenCompiles":${CodegenMetrics.METRIC_COMPILATION_TIME.getCount},""" +
          s""""codegenCompileMs":${CodeGenerator.compileTime / 1000000}}""")
    })
    // linked-data GET (RESTServlet.java:132-170): /ld?uri=<iri> → DESCRIBE.
    // CBDs cache per IRI (DescribeCache.java's job) keyed on the store
    // generation — any update invalidates the whole cache at once.
    server.createContext("/ld", (ex: HttpExchange) => safely(ex) {
      formParams(ex).get("uri") match {
        case None => respond(ex, 400, "text/plain", "missing uri param")
        case Some(u) =>
          val tenant = namespaces.get(DefaultNamespace)
          val gen = tenant.generation.get()
          val body = describeCache.computeIfAbsent((DefaultNamespace, gen, u), { _ =>
            serializeTriples(
              Parser.describe(spark, tenant.store.get(), s"DESCRIBE <$u>"))
          })
          respond(ex, 200, "application/n-triples", body)
      }
    })
    // workbench (the reference serves bigdata-war/src/index.html at the
    // app root): endpoint directory plus query/update forms posting to
    // /sparql with namespace routing, xhtml result tables, explain, and
    // the Runtime-optimizer hint — API-equivalent, original markup
    server.createContext("/", (ex: HttpExchange) => safely(ex) {
      ex.getRequestURI.getPath match {
        case "/" | "/workbench" | "/index.html" =>
          respond(ex, 200, "text/html", workbenchHtml)
        case p => respond(ex, 404, "text/plain", s"no such resource $p")
      }
    })
    // request-per-thread (the reference runs on Jetty's thread pool): a
    // long-running query must not block /status or a cancelQuery for it
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-http"); t.setDaemon(true); t
      }))
    server.start()
    this
  }

  /** The workbench page: self-contained HTML, no external assets. Mirrors
    * the reference's index.html SURFACE (query form with namespace /
    * explain / RTO / XHTML controls, update form, endpoint directory) with
    * original markup. The RTO checkbox injects the optimizer=Runtime query
    * hint client-side via the tiny inline script.
    */
  private lazy val workbenchHtml: String = {
    val nss = namespaceNames.map(n => s"<code>$n</code>").mkString(", ")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"/><title>graft SPARQL workbench</title>
       |<style>
       | body { font-family: sans-serif; margin: 2em; max-width: 60em; }
       | textarea { width: 100%; font-family: monospace; }
       | fieldset { margin-bottom: 1.5em; }
       |</style></head>
       |<body>
       |<h1>graft SPARQL workbench</h1>
       |<p>Endpoints:
       | <a href="/sparql">/sparql</a> (service description),
       | <a href="/namespace">/namespace</a> (tenants: $nss),
       | <a href="/status?showQueries">/status</a>,
       | <a href="/counters">/counters</a></p>
       |<fieldset><legend>Query</legend>
       |<form action="/sparql" method="post" id="qf">
       |<textarea name="query" rows="8">SELECT * WHERE { ?s ?p ?o } LIMIT 10</textarea>
       |<p>Namespace <input type="text" name="namespace" placeholder="kb"/>
       |   <label><input type="checkbox" name="xhtml" value="true" checked/> XHTML table</label>
       |   <label><input type="checkbox" name="explain" value="true"/> Explain</label>
       |   <label><input type="checkbox" id="rto"/> Runtime optimizer</label>
       |   <input type="submit" value="Run query"/></p>
       |</form></fieldset>
       |<fieldset><legend>Update</legend>
       |<form action="/sparql" method="post">
       |<textarea name="update" rows="6">INSERT DATA { <http://example/s> <http://example/p> "o" }</textarea>
       |<p>Namespace <input type="text" name="namespace" placeholder="kb"/>
       |   <input type="submit" value="Run update"/></p>
       |</form></fieldset>
       |<script>
       |document.getElementById('qf').addEventListener('submit', function () {
       |  var q = this.query, h = 'hint:Query hint:optimizer "Runtime" .';
       |  if (document.getElementById('rto').checked && q.value.indexOf(h) < 0)
       |    q.value = q.value.replace('{', '{ ' + h + ' ');
       |});
       |</script>
       |</body></html>""".stripMargin
  }

  /** MIME types accepted as RDF payloads on the data API (the body formats
    * InsertServlet/DeleteServlet/UpdateServlet negotiate through RIO).
    */
  private val RdfBodyMimes: Set[String] = Set(
    "text/plain", "application/n-triples", "text/x-nquads",
    "application/n-quads", "text/turtle", "application/x-turtle",
    "application/trig", "application/x-trig", "application/rdf+xml")

  /** Driver-side parse of an RDF request body into quad Rows (one HTTP
    * request's payload, not a bulk load — bulk ingest goes through LOAD /
    * the library readers).
    */
  private def parseRdfDoc(body: String, mime: String, base: String)
      : Seq[Row] = mime match {
    case "application/rdf+xml" =>
      RdfXml.parseDoc(body, base).map { case (s, p, o) => Row(s, p, o, null) }
    case "text/plain" | "application/n-triples" | "text/x-nquads" |
         "application/n-quads" =>
      NTriples.parseDocJvmQuads(body)
    case "application/trig" | "application/x-trig" =>
      Turtle.parseQuads(body, base).map { case (s, p, o, c) => Row(s, p, o, c) }.toSeq
    case _ =>
      Turtle.parseDoc(body, base).map { case (s, p, o) => Row(s, p, o, null) }.toSeq
  }

  /** Quad rows → frame; `context-uri` (InsertServlet's defaultContext)
    * assigns the default graph for statements without an explicit one.
    */
  private def quadsFrame(rows: Seq[Row], contextUri: Option[String]): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), quadSchema)
    contextUri.filter(_.nonEmpty)
      .fold(df)(g => df.withColumn("c", coalesce(col("c"), Term.iri(g))))
  }

  /** Statements in `quads` not already in `st` — the insert mutation count
    * (the reference counts index writes, i.e. genuinely new statements).
    */
  private def freshCount(st: DataFrame, quads: DataFrame): Long =
    quads.distinct().join(st.select(col("s").as("es"), col("p").as("ep"),
        col("o").as("eo"), col("c").as("ec")),
      col("s") === col("es") && col("p") === col("ep") &&
      col("o") === col("eo") && col("c") <=> col("ec"), "left_anti").count()

  /** Statements of `st` present in `quads` — the delete mutation count. */
  private def matchCount(st: DataFrame, quads: DataFrame): Long =
    st.join(quads.select(col("s").as("ds"), col("p").as("dp"),
        col("o").as("do"), col("c").as("dc")),
      col("s") === col("ds") && col("p") === col("dp") &&
      col("o") === col("do") && col("c") <=> col("dc"), "left_semi").count()

  /** Run a data-API mutation under the query lifecycle and report the
    * reference's mutation-count document (BigdataRDFServlet
    * .reportModifiedCount: `<data modified="N" milliseconds="M"/>`).
    */
  private def mutate(ex: HttpExchange, tenant: Namespace, ns: String,
                     label: String, params: Map[String, String])
                    (f: DataFrame => (DataFrame, Long)): Unit = {
    val t0 = System.currentTimeMillis()
    nUpdates.incrementAndGet()
    var modified = 0L
    withManagedQuery(ex, ns, label, params) {
      // commit() also bumps the generation, invalidating cached CBDs + SD
      tenant.commit { st =>
        val (st2, n) = f(st); modified = n; st2
      }
    }
    respond(ex, 200, "application/xml",
      s"""<?xml version="1.0"?><data modified="$modified" """ +
        s"""milliseconds="${System.currentTimeMillis() - t0}"/>""")
  }

  /** POST with an RDF body: insert (InsertServlet.doPostWithBody), or with
    * the `delete` flag remove the body's exact statements
    * (DeleteServlet.doDeleteWithBody).
    */
  private def handleDataPost(ex: HttpExchange, tenant: Namespace, ns: String,
                             mime: String): Unit = {
    val params = queryStringParams(ex)
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val rows = parseRdfDoc(body, mime, "")
    val quads = quadsFrame(rows, params.get("context-uri"))
    if (params.contains("delete"))
      mutate(ex, tenant, ns, s"REST delete-with-body (${rows.size} statements)",
             params) { st => (QuadStore.delete(st, quads), matchCount(st, quads)) }
    else
      mutate(ex, tenant, ns, s"REST insert (${rows.size} statements)",
             params) { st => (QuadStore.insert(st, quads), freshCount(st, quads)) }
  }

  /** DELETE: `query=` removes a CONSTRUCT/DESCRIBE result's statements in
    * every context (DeleteServlet.doDeleteWithQuery); otherwise an
    * access-path delete where absent s/p/o/c are wildcards — no params
    * empties the store (DeleteServlet.doDeleteWithAccessPath). Terms are
    * N-Triples syntax; a bare value is shorthand for an IRI.
    */
  private def handleDataDelete(ex: HttpExchange, tenant: Namespace,
                               ns: String): Unit = {
    val params = queryStringParams(ex)
    params.get("query").filter(_.nonEmpty) match {
      case Some(q) =>
        mutate(ex, tenant, ns, q, params)(st => deleteByQuery(st, q))
      case None =>
        def termOf(k: String) = params.get(k).filter(_.nonEmpty)
          .map(v => Term.fromRow(NTriples.parseTermJvm(
            if (v.startsWith("<") || v.startsWith("\"") || v.startsWith("_:")) v
            else s"<$v>")))
        val cond = Seq(
          termOf("s").map(col("s") === _), termOf("p").map(col("p") === _),
          termOf("o").map(col("o") === _), termOf("c").map(col("c") <=> _))
          .flatten.reduceOption(_ && _).getOrElse(lit(true))
        mutate(ex, tenant, ns, "REST access-path delete", params) { st =>
          (st.filter(!cond), st.filter(cond).count())
        }
    }
  }

  /** Evaluate a CONSTRUCT/DESCRIBE against `st` and remove its (s,p,o)
    * statements from every context; returns (new store, removed count).
    */
  private def deleteByQuery(st: DataFrame, q: String): (DataFrame, Long) = {
    import Parser._
    val form = parse(spark, q).form
    require(form == ConstructForm || form == DescribeForm,
      "DELETE with query requires a CONSTRUCT or DESCRIBE query")
    val triples =
      (if (form == ConstructForm) construct(spark, st, q)
       else describe(spark, st, q))
        .select(col("s").as("ds"), col("p").as("dp"), col("o").as("do"))
    val cond = col("s") === col("ds") && col("p") === col("dp") &&
      col("o") === col("do")
    val removed = st.join(triples, cond, "left_semi").count()
    (st.join(triples, cond, "left_anti"), removed)
  }

  /** PUT = DELETE+INSERT in one commit (UpdateServlet.doPut): the `query`
    * param's CONSTRUCT/DESCRIBE result is removed, then the RDF body is
    * inserted; modified = removed + genuinely added.
    */
  private def handleDataPut(ex: HttpExchange, tenant: Namespace, ns: String,
                            mime: String): Unit = {
    val params = queryStringParams(ex)
    params.get("query").filter(_.nonEmpty) match {
      case None =>
        respond(ex, 400, "text/plain", "PUT requires a query param (DELETE+INSERT)")
      case Some(_) if !RdfBodyMimes.contains(mime) =>
        respond(ex, 415, "text/plain", s"unsupported RDF content type: $mime")
      case Some(q) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val quads = quadsFrame(parseRdfDoc(body, mime, ""),
                               params.get("context-uri"))
        mutate(ex, tenant, ns, q, params) { st =>
          val (afterDelete, removed) = deleteByQuery(st, q)
          val added = freshCount(afterDelete, quads)
          (QuadStore.insert(afterDelete, quads), removed + added)
        }
    }
  }

  /** POST ?uri=...: fetch each document and insert it
    * (InsertServlet.doPostWithURIs); format chosen by extension, the
    * fetched URI is the parse base.
    */
  private def handleInsertUris(ex: HttpExchange, tenant: Namespace,
                               ns: String, uris: Seq[String],
                               params: Map[String, String]): Unit = {
    val rows = uris.flatMap { u =>
      val lower = u.toLowerCase.takeWhile(_ != '?')
      val src = scala.io.Source.fromURL(new java.net.URI(u).toURL)(scala.io.Codec.UTF8)
      val content = try src.mkString finally src.close()
      val mime =
        if (lower.endsWith(".rdf") || lower.endsWith(".owl")) "application/rdf+xml"
        else if (lower.endsWith(".nq") || lower.endsWith(".nt")) "application/n-quads"
        else if (lower.endsWith(".trig")) "application/trig"
        else "text/turtle"
      parseRdfDoc(content, mime, u)
    }
    val quads = quadsFrame(rows, params.get("context-uri"))
    mutate(ex, tenant, ns, s"REST insert from ${uris.size} uri(s)", params) {
      st => (QuadStore.insert(st, quads), freshCount(st, quads))
    }
  }

  private def handleSparql(ex: HttpExchange, tenant: Namespace,
                           ns: String): Unit = {
    val method = ex.getRequestMethod
    val mime = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("").split(";")(0).trim.toLowerCase
    if (method == "DELETE") { handleDataDelete(ex, tenant, ns); return }
    if (method == "PUT") { handleDataPut(ex, tenant, ns, mime); return }
    if (method == "POST" && RdfBodyMimes.contains(mime)) {
      handleDataPost(ex, tenant, ns, mime); return
    }
    val params = formParams(ex)
    // workbench form face: the reference's index.html posts a `namespace`
    // field with each query/update (tenant routing without the per-tenant
    // URL); unknown names 404 exactly like the /namespace/<ns>/sparql path
    params.get("namespace").filter(n2 => n2.nonEmpty && n2 != ns) match {
      case Some(n2) =>
        namespaces.get(n2) match {
          case null => respond(ex, 404, "text/plain", s"no namespace $n2")
          case t2 => handleSparqlParams(ex, t2, n2, params)
        }
      case None => handleSparqlParams(ex, tenant, ns, params)
    }
  }

  private def handleSparqlParams(ex: HttpExchange, tenant: Namespace,
                                 ns: String, params: Map[String, String]): Unit = {
    val method = ex.getRequestMethod
    if (params.contains("update") && ex.getRequestMethod == "POST") {
      nUpdates.incrementAndGet()
      withManagedQuery(ex, ns, params("update"), params) {
        // commit() also bumps the generation, invalidating cached CBDs
        tenant.commit(st => Update.execute(spark, st, params("update")))
      }
      respond(ex, 200, "text/plain", "update ok")
    } else if (params.contains("uuid")) {
      // QueryServlet.ATTR_UUID: hand the client a server-minted id it can
      // pass back as queryId= to pre-name a query for /status?cancelQuery
      // (QueryServlet.java:134 and StatusServlet's cancel protocol)
      respond(ex, 200, "text/plain", java.util.UUID.randomUUID().toString)
    } else if (params.contains("ESTCARD")) {
      def term(k: String) = params.get(k).map(v => Term.iri(v))
      val n = QuadStore.estcard(tenant.store.get(), term("s"), term("p"),
                                term("o"), term("c"))
      respond(ex, 200, "application/json", s"""{"rangeCount":$n}""")
    } else if (params.contains("CONTEXTS")) {
      val gs = QuadStore.contexts(tenant.store.get())
        .select(NTriples.termToString(col("c"))).collect().map(_.getString(0))
      respond(ex, 200, "text/plain", gs.mkString("\n"))
    } else params.get("query") match {
      case None if ex.getRequestMethod == "GET" && params.isEmpty =>
        // bare GET on the endpoint → SPARQL 1.1 Service Description with
        // VoID statistics (SD.java:439-559 builds the sd:Service graph,
        // VoID.java:372-420 the void:triples/properties/classes and
        // per-graph partitions)
        respond(ex, 200, "application/n-triples",
          serviceDescription(tenant, ns))
      case None if method == "POST" &&
          (multiParams(ex, "uri") ++ params.get("uri")).exists(_.nonEmpty) =>
        val uris = (multiParams(ex, "uri") ++ params.get("uri"))
          .filter(_.nonEmpty).distinct
        handleInsertUris(ex, tenant, ns, uris, params)
      case None => respond(ex, 400, "text/plain", "missing query/update param")
      case Some(q) if params.contains("explain") =>
        // the reference's ?explain surface (QueryServlet.java EXPLAIN
        // attribute: renders the optimized AST + BOp plan instead of
        // running the query): SPARQL algebra, variable scope, EXISTS
        // marker counts, and the Catalyst physical plan
        respond(ex, 200, "text/plain",
          graft.sparql.Explain.explain(spark, tenant.store.get(), q).render)
      case Some(q) =>
        nQueries.incrementAndGet()
        // timestamp= reads a historical commit point (floor semantics over
        // the bounded snapshot history; 410 once evicted) — the reference's
        // getTimestamp → getTripleStore(ns, timestamp) historical reads
        params.get("timestamp")
          .map(v => scala.util.Try(v.toLong)) match {
          case Some(scala.util.Failure(_)) =>
            respond(ex, 400, "text/plain", "malformed timestamp")
          case Some(scala.util.Success(ts)) =>
            tenant.storeAt(ts) match {
              case Some(st) =>
                withManagedQuery(ex, ns, q, params)(runQuery(ex, st, q, params))
              case None =>
                respond(ex, 410, "text/plain",
                  s"commit point $ts evicted from the snapshot history")
            }
          case None =>
            withManagedQuery(ex, ns, q, params)(
              runQuery(ex, tenant.store.get(), q, params))
        }
    }
  }

  private val sdCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), String]()

  /** SPARQL 1.1 Service Description + VoID statistics as N-Triples — the
    * reference's answer to a bare GET on the endpoint (SD.java:62-240
    * vocabulary, VoID.java:372-420 statistics). Stats cost three small
    * aggregations plus a per-graph count, so the document caches per
    * (namespace, update generation) like the DESCRIBE cache.
    */
  private def serviceDescription(tenant: Namespace, ns: String): String =
    sdCache.computeIfAbsent((ns, tenant.generation.get()), { _ =>
      val sd = "http://www.w3.org/ns/sparql-service-description#"
      val void = "http://rdfs.org/ns/void#"
      val fmt = "http://www.w3.org/ns/formats/"
      val st = tenant.store.get()
      val dflt = st.filter(col("c").isNull)
      val triples = dflt.count()
      val props = dflt.select("p").distinct().count()
      val classes = dflt
        .filter(col("p") === Term.iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"))
        .select("o").distinct().count()
      // named-graph partitions: one row per graph — schema-sized, the same
      // bound as the CONTEXTS fast path
      val graphs = st.filter(col("c").isNotNull)
        .groupBy(NTriples.termToString(col("c")).as("g")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val endpoint =
        s"http://127.0.0.1:$boundPort/namespace/$ns/sparql"
      def int(n: Long) =
        s""""$n"^^<http://www.w3.org/2001/XMLSchema#integer>"""
      val b = Seq.newBuilder[String]
      b += s"_:service <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <${sd}Service> ."
      b += s"_:service <${sd}endpoint> <$endpoint> ."
      Seq("SPARQL10Query", "SPARQL11Query", "SPARQL11Update").foreach(l =>
        b += s"_:service <${sd}supportedLanguage> <$sd$l> .")
      b += s"_:service <${sd}feature> <${sd}BasicFederatedQuery> ."
      Seq("SPARQL_Results_JSON", "SPARQL_Results_XML", "SPARQL_Results_CSV",
          "SPARQL_Results_TSV", "N-Triples").foreach(f =>
        b += s"_:service <${sd}resultFormat> <$fmt$f> .")
      b += s"_:service <${sd}defaultDataset> _:dataset ."
      b += s"_:dataset <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <${sd}Dataset> ."
      b += s"_:dataset <${sd}defaultGraph> _:defaultGraph ."
      b += s"_:defaultGraph <${void}triples> ${int(triples)} ."
      b += s"_:defaultGraph <${void}properties> ${int(props)} ."
      b += s"_:defaultGraph <${void}classes> ${int(classes)} ."
      graphs.zipWithIndex.foreach { case ((g, n), i) =>
        b += s"_:dataset <${sd}namedGraph> _:ng$i ."
        b += s"_:ng$i <${sd}name> $g ."
        b += s"_:ng$i <${sd}graph> _:ngg$i ."
        b += s"_:ngg$i <${void}triples> ${int(n)} ."
      }
      b.result().mkString("\n")
    })

  private def runQuery(ex: HttpExchange, store: DataFrame, text: String,
                       params: Map[String, String] = Map.empty): Unit = {
    import Parser._
    val form = parse(spark, text).form
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    // the workbench face: xhtml=true (the form checkbox) renders SELECT/ASK
    // as an HTML table (the reference transforms SPARQL-XML through
    // bigdata-war/src/result-to-html.xsl). Param-gated ONLY — many HTTP
    // clients (java.net defaults included) send Accept: text/html on API
    // calls, so header-based switching would break machine consumers
    val wantHtml = params.get("xhtml").contains("true")
    form match {
      case SelectForm =>
        val sols = select(spark, store, text)
        if (wantHtml)
          respond(ex, 200, "text/html", Results.toXhtml(sols))
        else if (accept.contains("xml"))
          respond(ex, 200, "application/sparql-results+xml", Results.toXml(sols))
        else if (accept.contains("tab-separated"))
          respond(ex, 200, "text/tab-separated-values", Results.toTsv(sols))
        else if (accept.contains("text/csv"))
          respond(ex, 200, "text/csv", Results.toCsv(sols))
        else
          respond(ex, 200, "application/sparql-results+json", Results.toJson(sols))
      case AskForm =>
        val b = ask(spark, store, text)
        if (wantHtml)
          respond(ex, 200, "text/html",
            s"<!DOCTYPE html><html><body><table border=\"1\">" +
              s"<tr><th>boolean</th></tr><tr><td>$b</td></tr></table></body></html>")
        else if (accept.contains("xml"))
          respond(ex, 200, "application/sparql-results+xml",
            "<?xml version=\"1.0\"?><sparql xmlns=\"http://www.w3.org/2005/" +
              s"sparql-results#\"><head/><boolean>$b</boolean></sparql>")
        else
          respond(ex, 200, "application/sparql-results+json",
            s"""{"head":{},"boolean":$b}""")
      case ConstructForm =>
        respondGraph(ex, accept, construct(spark, store, text))
      case DescribeForm =>
        respondGraph(ex, accept, describe(spark, store, text))
    }
  }

  /** RDF-graph conneg (the reference's ConnegUtil picks an openrdf RIO
    * writer from Accept; bigdata-sails/.../ConnegUtil.java): text/turtle →
    * subject-grouped Turtle, default → N-Triples (every N-Triples doc is
    * also valid Turtle, but the grouped form is what a Turtle consumer
    * expects).
    */
  private def respondGraph(ex: HttpExchange, accept: String, df: DataFrame): Unit =
    if (accept.contains("turtle"))
      respond(ex, 200, "text/turtle", serializeTurtle(df))
    else
      respond(ex, 200, "application/n-triples", serializeTriples(df))

  private def collectTriples(df: DataFrame): Array[(String, String, String)] =
    df.select(NTriples.termToString(col("s")), NTriples.termToString(col("p")),
              NTriples.termToString(col("o")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  private def serializeTriples(df: DataFrame): String =
    collectTriples(df).map(t => s"${t._1} ${t._2} ${t._3} .").mkString("\n")

  /** Subject-grouped Turtle: one block per subject, predicates joined with
    * `;`, objects of a repeated predicate with `,`. Term syntax reuses the
    * N-Triples lexical forms (valid Turtle).
    */
  private def serializeTurtle(df: DataFrame): String =
    collectTriples(df).groupBy(_._1).toSeq.sortBy(_._1).map {
      case (s, triples) =>
        val byPred = triples.groupBy(_._2).toSeq.sortBy(_._1).map {
          case (p, ts) => s"$p " + ts.map(_._3).distinct.sorted.mkString(", ")
        }
        s"$s " + byPred.mkString(" ;\n    ") + " ."
    }.mkString("\n")

  private def decodeParams(s: String): Map[String, String] =
    s.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> ""
      else java.net.URLDecoder.decode(kv.take(i), UTF_8) ->
           java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap

  /** Merge query-string and (for POST) form-encoded body parameters.
    * Bare flags like ESTCARD map to "". */
  private def formParams(ex: HttpExchange): Map[String, String] = {
    val fromUri = queryStringParams(ex)
    val fromBody =
      if (ex.getRequestMethod == "POST")
        decodeParams(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      else Map.empty[String, String]
    fromUri ++ fromBody
  }

  /** Query-string parameters only — the data API reads these without
    * consuming the request body (which holds the RDF payload). */
  private def queryStringParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(decodeParams).getOrElse(Map.empty)

  /** Every query-string value for a repeatable key (`uri` may repeat). */
  private def multiParams(ex: HttpExchange, key: String): Seq[String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.nonEmpty).flatMap { kv =>
        val i = kv.indexOf('=')
        if (i > 0 && java.net.URLDecoder.decode(kv.take(i), UTF_8) == key)
          Some(java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8))
        else None
      }

  private def safely(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        try respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
        catch { case _: Throwable => }
    }

  private def respond(ex: HttpExchange, code: Int, ctype: String, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  def stop(): Unit = {
    watchdogs.shutdownNow()
    server.stop(0)
  }
}
