package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Encoders}
import graft.rdf.NTriples
import graft.server.SparqlServer

/** SPARQL-over-HTTP facade: query forms, content negotiation, UPDATE
  * mutation, ESTCARD/CONTEXTS fast paths (NanoSparqlServer surface).
  */
class ServerSpec extends SparkSpecBase {

  private val EX = "http://ex/"

  private def parse(nt: Seq[String]): DataFrame =
    NTriples.parseLines(spark, spark.createDataset(nt)(Encoders.STRING).toDF("value"))

  private def http(method: String, url: String, body: Option[String] = None,
                   accept: String = "",
                   ctype: String = "application/x-www-form-urlencoded")
      : (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (accept.nonEmpty) conn.setRequestProperty("Accept", accept)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", ctype)
      conn.getOutputStream.write(b.getBytes(UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(is.readAllBytes(), UTF_8)
    (code, text)
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  test("HTTP endpoint: SELECT/ASK/CONSTRUCT, UPDATE, ESTCARD, CONTEXTS") {
    val quads = parse(Seq(
      s"""<${EX}alice> <${EX}worksFor> <${EX}acme> .""",
      s"""<${EX}bob> <${EX}worksFor> <${EX}acme> .""",
      s"""<${EX}acme> <${EX}name> "Acme" <${EX}g1> ."""))
    val srv = new SparqlServer(spark, quads).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"

      // SELECT → JSON; XML on Accept
      val q = s"PREFIX ex: <$EX> SELECT ?x WHERE { ?x ex:worksFor ex:acme } ORDER BY ?x"
      val (c1, json) = http("GET", s"$base/sparql?query=${enc(q)}")
      assert(c1 == 200 && json.contains("\"bindings\"") && json.contains(EX + "alice"))
      val (_, xml) = http("GET", s"$base/sparql?query=${enc(q)}",
                          accept = "application/sparql-results+xml")
      assert(xml.contains("<sparql") && xml.contains(EX + "bob"))

      // ASK → JSON with the spec's "boolean" key (trac 704:
      // TestAskJsonTrac704.java — the reference emitted text/plain); XML
      // boolean document on Accept; POST url-encoded behaves like GET
      val ask = s"PREFIX ex: <$EX> ASK { ex:alice ex:worksFor ex:acme }"
      val (_, askBody) = http("GET", s"$base/sparql?query=${enc(ask)}")
      assert(askBody.contains("\"boolean\":true"))
      val (_, askXml) = http("GET", s"$base/sparql?query=${enc(ask)}",
                             accept = "application/sparql-results+xml")
      assert(askXml.contains("<boolean>true</boolean>") && askXml.contains("<sparql"))
      val (_, askPost) = http("POST", s"$base/sparql", Some(s"query=${enc(ask)}"))
      assert(askPost.contains("\"boolean\":true"))

      // CONSTRUCT → N-Triples; subject-grouped Turtle on Accept (ConnegUtil
      // RIO-writer selection surface)
      val cons = s"PREFIX ex: <$EX> CONSTRUCT { ?x ex:member ex:acme } WHERE { ?x ex:worksFor ex:acme }"
      val (_, nt) = http("GET", s"$base/sparql?query=${enc(cons)}")
      assert(nt.contains(s"<${EX}alice> <${EX}member> <${EX}acme> ."))
      val consMulti = s"PREFIX ex: <$EX> CONSTRUCT { ex:acme ex:member ?x } WHERE { ?x ex:worksFor ex:acme }"
      val (_, ttl) = http("GET", s"$base/sparql?query=${enc(consMulti)}",
                          accept = "text/turtle")
      // one subject block, objects comma-joined under the repeated predicate
      assert(ttl.contains(s"<${EX}acme> <${EX}member> <${EX}alice>, <${EX}bob> ."))
      // round-trip: the Turtle body parses back to the same triple set
      val parsed = graft.rdf.Turtle.parseDoc(ttl).toSet
      assert(parsed.size == 2)

      // POST update mutates the served store
      val upd = s"""INSERT DATA { <${EX}carol> <${EX}worksFor> <${EX}acme> . }"""
      val (cu, _) = http("POST", s"$base/sparql", Some(s"update=${enc(upd)}"))
      assert(cu == 200)
      val (_, json2) = http("GET", s"$base/sparql?query=${enc(q)}")
      assert(json2.contains(EX + "carol"))

      // ESTCARD with a bound predicate; with a bound context it counts
      // inside the named graph only (QueryServlet.java:1220 decodes c=)
      val (_, card) = http("GET",
        s"$base/sparql?ESTCARD&p=${enc(EX + "worksFor")}")
      assert(card.contains("\"rangeCount\":3"))
      val (_, cardC) = http("GET",
        s"$base/sparql?ESTCARD&c=${enc(EX + "g1")}")
      assert(cardC.contains("\"rangeCount\":1"))

      // CONTEXTS lists the named graph
      val (_, ctxs) = http("GET", s"$base/sparql?CONTEXTS")
      assert(ctxs.contains(s"<${EX}g1>"))

      // ?uuid mints a server-side query id (QueryServlet.ATTR_UUID)
      val (cuu, uuid) = http("GET", s"$base/sparql?uuid")
      assert(cuu == 200 && uuid.trim.matches("[0-9a-f-]{36}"))

      // timestamp= reads a historical commit point: generation 0 predates
      // carol's insert, the current store includes her
      val (ct0, hist) = http("GET",
        s"$base/sparql?query=${enc(q)}&timestamp=0")
      assert(ct0 == 200 && !hist.contains(EX + "carol") &&
             hist.contains(EX + "alice"),
             s"historical read leaked a later commit: $hist")
      val (ctBad, _) = http("GET",
        s"$base/sparql?query=${enc(q)}&timestamp=nonsense")
      assert(ctBad == 400)

      // status endpoint
      val (_, st) = http("GET", s"$base/status")
      assert(st.contains("\"statements\":4"))

      // TSV content negotiation
      val (_, tsv) = http("GET", s"$base/sparql?query=${enc(q)}",
                          accept = "text/tab-separated-values")
      assert(tsv.startsWith("?x") && tsv.contains(s"<${EX}alice>"))

      // bare GET → SPARQL 1.1 Service Description with VoID statistics
      // (SD.java/VoID.java surface); regenerated after updates
      val (cs, sdoc) = http("GET", s"$base/sparql")
      assert(cs == 200)
      assert(sdoc.contains("sparql-service-description#Service"))
      assert(sdoc.contains("sparql-service-description#SPARQL11Update"))
      // default graph holds 3 triples after carol joined; g1 is a named
      // graph with 1 triple
      assert(sdoc.contains(
        "void#triples> \"3\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
      assert(sdoc.contains(s"name> <${EX}g1>"))
      assert(sdoc.contains(
        "void#triples> \"1\"^^<http://www.w3.org/2001/XMLSchema#integer>"))

      // linked-data GET → DESCRIBE, cached per store generation
      val (_, ld1) = http("GET", s"$base/ld?uri=${enc(EX + "alice")}")
      assert(ld1.contains(s"<${EX}alice> <${EX}worksFor> <${EX}acme> ."))
      val (_, ld1b) = http("GET", s"$base/ld?uri=${enc(EX + "alice")}")
      assert(ld1b == ld1) // cache hit returns the same body
      // an update invalidates the cache: the new triple appears
      val upd2 = s"""INSERT DATA { <${EX}alice> <${EX}title> "boss" . }"""
      http("POST", s"$base/sparql", Some(s"update=${enc(upd2)}"))
      val (_, ld2) = http("GET", s"$base/ld?uri=${enc(EX + "alice")}")
      assert(ld2.contains("\"boss\""))
    } finally srv.stop()
  }

  test("counters: a repeated SELECT compiles no new codegen classes") {
    val quads = parse(Seq(
      s"""<${EX}alice> <${EX}worksFor> <${EX}acme> .""",
      s"""<${EX}bob> <${EX}worksFor> <${EX}acme> ."""))
    val srv = new SparqlServer(spark, quads).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val q = s"PREFIX ex: <$EX> SELECT ?x WHERE { ?x ex:worksFor ex:acme } ORDER BY ?x"
      def compiles(): Long = {
        val (c, body) = http("GET", s"$base/counters")
        assert(c == 200 && body.contains("\"codegenCompileMs\":"), s"counters: $body")
        "\"codegenCompiles\":(\\d+)".r.findFirstMatchIn(body).get.group(1).toLong
      }
      assert(http("GET", s"$base/sparql?query=${enc(q)}")._1 == 200)
      val before = compiles()
      val (c2, json) = http("GET", s"$base/sparql?query=${enc(q)}")
      assert(c2 == 200 && json.contains(EX + "bob"))
      assert(compiles() == before, "the repeated SELECT recompiled generated classes")
    } finally srv.stop()
  }

  test("query lifecycle: timeout and cancelQuery kill running Spark jobs") {
    // slow-query shape: (p)+ closure over a 4000-node chain — a DRIVER-SIDE
    // fixpoint of ~12 short Spark jobs (several seconds total), so a cancel
    // lands at the next round boundary within milliseconds AND exercises
    // the re-firing cancellation (a single cancelJobGroup only kills jobs
    // already running; the next round would otherwise escape). A huge
    // cross-join would instead die slowly: few giant tasks, rare interrupt
    // checks.
    val quads = parse((1 until 4000).map(i =>
      s"""<${EX}s$i> <${EX}p> <${EX}s${i + 1}> ."""))
    val srv = new SparqlServer(spark, quads).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val slow = s"SELECT (COUNT(*) AS ?n) WHERE { ?x <${EX}p>+ ?y }"

      // a normal query is admitted under a queryId echoed in the response
      val quick = s"PREFIX ex: <$EX> ASK { ex:s1 ex:p ex:s2 }"
      val conn = URI.create(s"$base/sparql?query=${enc(quick)}")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(Option(conn.getHeaderField("X-Query-Id")).exists(_.nonEmpty))

      // per-request timeout: the watchdog cancels the job group and the
      // request reports the abort reason (QUERY_TIMEOUT semantics,
      // ConfigParams.java:127-133)
      val (ct, bodyT) =
        http("GET", s"$base/sparql?query=${enc(slow)}&timeout=100")
      assert(ct == 500, s"expected an aborted query, got $ct: $bodyT")
      assert(bodyT.contains("aborted") && bodyT.contains("timeout"),
        s"unexpected abort body: $bodyT")

      // client cancel: run the slow query with a known queryId, watch it
      // appear under /status?showQueries, cancel it, and observe the
      // evaluating request fail with the cancel reason
      val qid = "spec-cancel-1"
      @volatile var result: (Int, String) = (0, "")
      val t = new Thread(() => {
        result = http("GET", s"$base/sparql?query=${enc(slow)}&queryId=$qid")
      })
      t.start()
      val deadline = System.currentTimeMillis() + 20000
      var listed = ""
      while (!listed.contains(qid) && System.currentTimeMillis() < deadline) {
        listed = http("GET", s"$base/status?showQueries")._2
        if (!listed.contains(qid)) Thread.sleep(50)
      }
      assert(listed.contains(qid), s"query never appeared in: $listed")
      assert(http("GET", s"$base/status")._2.contains("\"runningQueries\":1"))
      val (cc, cBody) = http("POST", s"$base/status?cancelQuery&queryId=$qid")
      assert(cc == 200 && cBody.contains(s"canceled $qid"))
      t.join(30000)
      assert(!t.isAlive, "canceled query request never returned")
      assert(result._1 == 500 && result._2.contains("client cancel"),
        s"unexpected canceled-query response: $result")
      // the registry drains; canceling a finished query is a non-error
      assert(!http("GET", s"$base/status?showQueries")._2.contains(qid))
      assert(http("POST", s"$base/status?cancelQuery&queryId=$qid")
        ._2.contains("no such query"))

      // counters saw the three admissions, two of them aborted
      val (ck, counters) = http("GET", s"$base/counters")
      assert(ck == 200 && counters.contains("\"queries\":3") &&
             counters.contains("\"aborted\":2") &&
             counters.contains("\"running\":0"), s"counters: $counters")
    } finally srv.stop()
  }

  test("federated SERVICE: join local patterns against a remote endpoint") {
    // remote store: employment facts, served over HTTP
    val remoteStore = parse(Seq(
      s"""<${EX}alice> <${EX}worksFor> <${EX}acme> .""",
      s"""<${EX}bob> <${EX}worksFor> <${EX}globex> ."""))
    val srv = new SparqlServer(spark, remoteStore).start()
    try {
      // local store: ages; the query joins local ?x ex:age with the
      // remote ?x ex:worksFor bindings fetched over the SPARQL protocol
      val localStore = parse(Seq(
        s"""<${EX}alice> <${EX}age> "30"^^<${graft.rdf.Term.XsdInteger}> .""",
        s"""<${EX}carol> <${EX}age> "41"^^<${graft.rdf.Term.XsdInteger}> ."""))
      val df = graft.sparql.Parser.select(spark, localStore, s"""
        PREFIX ex: <$EX>
        SELECT ?x ?org WHERE {
          ?x ex:age ?a .
          SERVICE <http://127.0.0.1:${srv.boundPort}/sparql> {
            ?x ex:worksFor ?org .
          }
        }""")
      val rows = df.select(graft.rdf.Term.lex(org.apache.spark.sql.functions.col("x")),
                           graft.rdf.Term.lex(org.apache.spark.sql.functions.col("org")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // only alice is in both stores
      assert(rows == Set((EX + "alice", EX + "acme")))
    } finally srv.stop()
  }

  test("multi-tenancy: create/list/destroy namespaces with isolated stores") {
    val quads = parse(Seq(s"""<${EX}a> <${EX}p> "default" ."""))
    val srv = new SparqlServer(spark, quads).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"

      // create two tenants; duplicate create is 409, bad names are 400
      assert(http("POST", s"$base/namespace", Some("name=red"))._1 == 201)
      assert(http("POST", s"$base/namespace", Some("name=blue"))._1 == 201)
      assert(http("POST", s"$base/namespace", Some("name=red"))._1 == 409)
      assert(http("POST", s"$base/namespace", Some("name=no/slash"))._1 == 400)
      val (cl, list) = http("GET", s"$base/namespace")
      assert(cl == 200 && list.split("\n").toSet == Set("kb", "red", "blue"))

      // updates land in their own namespace ONLY
      val updRed = s"""INSERT DATA { <${EX}x> <${EX}team> "red" . }"""
      val updBlue = s"""INSERT DATA { <${EX}x> <${EX}team> "blue" . }"""
      assert(http("POST", s"$base/namespace/red/sparql",
                  Some(s"update=${enc(updRed)}"))._1 == 200)
      assert(http("POST", s"$base/namespace/blue/sparql",
                  Some(s"update=${enc(updBlue)}"))._1 == 200)
      val q = s"PREFIX ex: <$EX> SELECT ?t WHERE { ?x ex:team ?t }"
      val (_, rBody) = http("GET", s"$base/namespace/red/sparql?query=${enc(q)}")
      assert(rBody.contains("red") && !rBody.contains("blue"))
      val (_, bBody) = http("GET", s"$base/namespace/blue/sparql?query=${enc(q)}")
      assert(bBody.contains("blue") && !bBody.contains("red"))
      // the default store is untouched by tenant updates, and /sparql
      // aliases /namespace/kb/sparql
      val qd = s"PREFIX ex: <$EX> SELECT ?o WHERE { ?s ex:p ?o }"
      val (_, dBody) = http("GET", s"$base/sparql?query=${enc(qd)}")
      val (_, kbBody) = http("GET", s"$base/namespace/kb/sparql?query=${enc(qd)}")
      assert(dBody.contains("default") && kbBody == dBody)
      assert(!http("GET", s"$base/sparql?query=${enc(q)}")._2.contains("red"))

      // per-namespace properties document (MultiTenancyServlet surface)
      val (cp, props) = http("GET", s"$base/namespace/red/properties")
      assert(cp == 200 && props.contains("\"namespace\":\"red\"") &&
             props.contains("\"statements\":1"))
      assert(http("GET", s"$base/namespace/ghost/properties")._1 == 404)

      // ?explain renders the plan instead of running the query
      // (QueryServlet.java's EXPLAIN attribute)
      val (ce, explain) = http("GET",
        s"$base/namespace/red/sparql?query=${enc(q)}&explain")
      assert(ce == 200 && explain.contains("== SPARQL algebra ==") &&
             explain.contains("== physical plan"))

      // destroy: tenant gone (404 afterwards), default refused
      assert(http("DELETE", s"$base/namespace/red")._1 == 200)
      assert(http("GET", s"$base/namespace/red/sparql?query=${enc(q)}")._1 == 404)
      assert(http("DELETE", s"$base/namespace/red")._1 == 404)
      assert(http("DELETE", s"$base/namespace/kb")._1 == 400)
      assert(srv.namespaceNames == Seq("blue", "kb"))
    } finally srv.stop()
  }

  test("workbench: root page, namespace form routing, xhtml result tables") {
    val quads = parse(Seq(s"""<${EX}alice> <${EX}worksFor> <${EX}acme> ."""))
    val srv = new SparqlServer(spark, quads).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // the root serves the self-contained workbench page
      val (c0, page) = http("GET", s"$base/")
      assert(c0 == 200 && page.contains("workbench") &&
             page.contains("name=\"query\"") && page.contains("name=\"update\"") &&
             page.contains("Runtime optimizer"), page.take(200))
      assert(http("GET", s"$base/no-such-page")._1 == 404)
      // form-shaped POST: xhtml=true renders an HTML results table
      val q = s"SELECT ?x WHERE { ?x <${EX}worksFor> <${EX}acme> }"
      val (c1, html) = http("POST", s"$base/sparql",
        Some(s"query=${enc(q)}&xhtml=true"))
      assert(c1 == 200 && html.contains("<table") &&
             html.contains(s"&lt;${EX}alice&gt;"), html)
      // xhtml is PARAM-gated: a browser-ish Accept header alone must NOT
      // flip an API response to HTML (java.net clients send text/html too)
      val (_, json2) = http("GET", s"$base/sparql?query=${enc(q)}",
        accept = "text/html,application/xhtml+xml")
      assert(!json2.contains("<table"), json2.take(200))
      // GET with the param gets the table
      val (_, html2) = http("GET", s"$base/sparql?query=${enc(q)}&xhtml=true")
      assert(html2.contains("<table"), html2.take(200))
      // the namespace form field routes to that tenant (reference workbench
      // semantics); unknown names 404
      assert(http("POST", s"$base/namespace", Some("name=green"))._1 == 201)
      assert(http("POST", s"$base/sparql",
        Some(s"update=${enc(s"INSERT DATA { <${EX}x> <${EX}p> <${EX}y> }")}&namespace=green"))._1 == 200)
      val (_, greenJson) = http("POST", s"$base/sparql",
        Some(s"query=${enc("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")}&namespace=green"))
      assert(greenJson.contains("\"1\""), greenJson)
      // ...and the default namespace was not touched by the routed update
      val (_, kbJson) = http("POST", s"$base/sparql",
        Some(s"query=${enc("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")}"))
      assert(kbJson.contains("\"1\""), kbJson)
      assert(http("POST", s"$base/sparql",
        Some(s"query=${enc(q)}&namespace=ghost"))._1 == 404)
    } finally srv.stop()
  }

  test("namespace destroy racing an in-flight query strands nothing") {
    // store frames are immutable and bds/Catalog artifacts retire through
    // the grace window, so destroying a namespace must only unmap it: a
    // query already evaluating against the tenant keeps its frame and
    // completes with the right answer (the reference's tx-protected
    // destroyRepository semantics)
    val srv = new SparqlServer(spark, parse(Seq.empty)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      assert(http("POST", s"$base/namespace", Some("name=doomed"))._1 == 201)
      // a 400-node next-chain: the (p)+ closure takes multiple fixpoint
      // rounds — long enough to overlap the destroy
      val nt = (1 until 400)
        .map(i => s"<${EX}n$i> <${EX}next> <${EX}n${i + 1}> .").mkString("\n")
      assert(http("POST", s"$base/namespace/doomed/sparql", Some(nt),
                  ctype = "text/plain")._1 == 200)
      val q = s"PREFIX ex: <$EX> SELECT (COUNT(*) AS ?n) WHERE { ?x ex:next+ ?y }"
      @volatile var result: (Int, String) = (0, "")
      val t = new Thread(() => {
        result = http("GET", s"$base/namespace/doomed/sparql?query=${enc(q)}")
      })
      t.start()
      // wait until the query is admitted (status lists it), then destroy
      // the namespace under it
      val deadline = System.currentTimeMillis() + 30000
      while (!http("GET", s"$base/status?showQueries")._2.contains("ex:next+") &&
             System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(http("DELETE", s"$base/namespace/doomed")._1 == 200)
      // new requests 404 immediately...
      assert(http("GET", s"$base/namespace/doomed/sparql?query=${enc(q)}")._1 == 404)
      t.join(120000)
      // ...but the in-flight query still answers, and correctly:
      // closure of a 400-node chain = 400·399/2 pairs
      assert(result._1 == 200 && result._2.contains("79800"),
             s"in-flight query broken by destroy: $result")
    } finally srv.stop()
  }

  test("REST data API: insert/delete/put with RDF bodies and access paths") {
    val srv = new SparqlServer(spark, parse(Seq.empty)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val sparql = s"$base/sparql"
      def modified(resp: (Int, String)): Long = {
        assert(resp._1 == 200, resp._2)
        "modified=\"(\\d+)\"".r.findFirstMatchIn(resp._2).get.group(1).toLong
      }
      def count(): Long = {
        val (_, body) = http("GET",
          s"$sparql?query=${enc("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")}")
        "\"s\"\\s*:\\s*\\{".r.findAllIn(body).size.toLong
      }

      // POST with a Turtle body inserts (InsertServlet.doPostWithBody);
      // re-posting the same document is modified=0 (only new statements
      // count as index writes)
      val turtle =
        s"""@prefix ex: <$EX> .
           |ex:alice ex:knows ex:bob .
           |ex:alice ex:name "Alice" .""".stripMargin
      assert(modified(http("POST", sparql, Some(turtle), ctype = "text/turtle")) == 2)
      assert(modified(http("POST", sparql, Some(turtle), ctype = "text/turtle")) == 0)
      assert(count() == 2)

      // N-Quads body: the quad's context is preserved
      val nq = s"""<${EX}s1> <${EX}p> "g" <${EX}g1> ."""
      assert(modified(http("POST", sparql, Some(nq),
                           ctype = "application/n-quads")) == 1)
      assert(http("GET", s"$sparql?CONTEXTS")._2.contains(s"<${EX}g1>"))

      // ?context-uri routes statements without an explicit graph
      val nt2 = s"""<${EX}s2> <${EX}p> "ctx" ."""
      assert(modified(http("POST", s"$sparql?context-uri=${enc(EX + "g2")}",
                           Some(nt2), ctype = "application/n-triples")) == 1)
      assert(http("GET", s"$sparql?CONTEXTS")._2.contains(s"<${EX}g2>"))

      // POST ?delete with a body removes the body's exact statements
      // (DeleteServlet.doDeleteWithBody) — the default-graph triple form
      // does NOT match the g2 quad
      assert(modified(http("POST", s"$sparql?delete", Some(nt2),
                           ctype = "application/n-triples")) == 0)
      val nq2 = s"""<${EX}s2> <${EX}p> "ctx" <${EX}g2> ."""
      assert(modified(http("POST", s"$sparql?delete", Some(nq2),
                           ctype = "application/n-quads")) == 1)

      // access-path DELETE: bound s, everything else wildcard
      assert(modified(http("DELETE", s"$sparql?s=${enc(EX + "s1")}")) == 1)

      // DELETE with a CONSTRUCT query removes the constructed statements
      val delQ = s"PREFIX ex: <$EX> CONSTRUCT { ex:alice ex:name ?n } " +
        "WHERE { ex:alice ex:name ?n }"
      assert(modified(http("DELETE", s"$sparql?query=${enc(delQ)}")) == 1)
      assert(count() == 1) // only alice-knows-bob remains

      // PUT = DELETE+INSERT in one commit: remove the CONSTRUCT result,
      // insert the body; modified = removed + added
      val putQ = s"PREFIX ex: <$EX> CONSTRUCT { ex:alice ex:knows ex:bob } " +
        "WHERE { ex:alice ex:knows ex:bob }"
      val putBody = s"""<${EX}alice> <${EX}knows> <${EX}carol> ."""
      assert(modified(http("PUT", s"$sparql?query=${enc(putQ)}", Some(putBody),
                           ctype = "application/n-triples")) == 2)
      val (_, after) = http("GET",
        s"$sparql?query=${enc(s"PREFIX ex: <$EX> SELECT ?x WHERE { ex:alice ex:knows ?x }")}")
      assert(after.contains(EX + "carol") && !after.contains(EX + "bob"))
      // PUT without a query param is a 400
      assert(http("PUT", sparql, Some(putBody),
                  ctype = "application/n-triples")._1 == 400)

      // POST ?uri= fetches and inserts documents (format by extension)
      val dir = java.nio.file.Files.createTempDirectory("resturi")
      val f = dir.resolve("extra.ttl")
      java.nio.file.Files.writeString(f,
        s"""@prefix ex: <$EX> . ex:dave ex:knows ex:alice .""")
      assert(modified(http("POST", s"$sparql?uri=${enc(f.toUri.toString)}",
                           Some(""))) == 1)
      assert(http("GET",
        s"$sparql?query=${enc(s"PREFIX ex: <$EX> ASK { ex:dave ex:knows ex:alice }")}")
        ._2.contains("true"))

      // bare DELETE empties the store (all-wildcard access path)
      assert(modified(http("DELETE", sparql)) == 2)
      assert(count() == 0)
    } finally srv.stop()
  }

  test("SERVICE bd:history over HTTP reflects UPDATE mutations") {
    val srv = new SparqlServer(spark,
      parse(Seq(s"<${EX}a> <${EX}p> <${EX}b> ."))).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // rev 1: insert; rev 2: delete the original statement
      assert(http("POST", s"$base/sparql",
        Some(s"update=${enc(s"INSERT DATA { <${EX}c> <${EX}p> <${EX}d> }")}"))._1 == 200)
      assert(http("POST", s"$base/sparql",
        Some(s"update=${enc(s"DELETE DATA { <${EX}a> <${EX}p> <${EX}b> }")}"))._1 == 200)
      val q = s"""
        SELECT ?rev ?s ?act WHERE {
          SERVICE <graft://history> {
            ?rev <graft://history#subject> ?s .
            ?rev <graft://history#action> ?act .
          }
        } ORDER BY ?rev"""
      val (code, body) = http("GET", s"$base/sparql?query=${enc(q)}")
      assert(code == 200, body)
      // rev 1 INSERTED ex:c, rev 2 REMOVED ex:a — queryable as a relation
      assert(body.contains("INSERTED") && body.contains("REMOVED"))
      assert(body.contains(EX + "c") && body.contains(EX + "a"))
      // since-filter narrows to the delete
      val q2 = s"""
        SELECT ?s ?act WHERE {
          SERVICE <graft://history> {
            ?rev <graft://history#subject> ?s .
            ?rev <graft://history#action> ?act .
            ?rev <graft://history#sinceRevision> "2" .
          }
        }"""
      val (_, body2) = http("GET", s"$base/sparql?query=${enc(q2)}")
      assert(body2.contains("REMOVED") && body2.contains(EX + "a") &&
             !body2.contains(EX + "c"))
    } finally srv.stop()
  }

  test("bd:history survives the 16-commit change-log checkpoint") {
    val srv = new SparqlServer(spark, parse(Seq())).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // 20 commits crosses the rev%16 checkpoint that truncates the log's
      // lazy-union lineage — every record must survive the swap
      (1 to 20).foreach { i =>
        assert(http("POST", s"$base/sparql",
          Some(s"update=${enc(s"INSERT DATA { <${EX}x$i> <${EX}p> <${EX}y> }")}"))._1 == 200)
      }
      val q = s"""
        SELECT ?rev ?s WHERE {
          SERVICE <graft://history> {
            ?rev <graft://history#subject> ?s .
            ?rev <graft://history#action> "INSERTED" .
          }
        }"""
      val (code, body) = http("GET", s"$base/sparql?query=${enc(q)}")
      assert(code == 200, body)
      (1 to 20).foreach { i =>
        assert(body.contains(EX + s"x$i"), s"record for x$i lost: $body")
      }
    } finally srv.stop()
  }
}
