package graft

import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipFile
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.rdf.{NTriples, RdfXml, Term, Turtle}
import graft.sparql.{Parser, QueryForms, Results, Translator, Update}
import scala.jdk.CollectionConverters._

/** W3C SPARQL TCK: the DAWG data-r2 (SPARQL 1.0) and data-sparql11 suites,
  * manifest-driven, exactly the corpus the reference runs through Sesame's
  * harness (bigdata-sails/src/test/com/bigdata/rdf/sail/tck/
  * BigdataSparqlTest.java over SPARQLQueryTest.java, update conformance via
  * BigdataSPARQLUpdateConformanceTest.java, syntax via
  * SPARQL11SyntaxTest.java).
  *
  * Suite data is read from the reference's vendored testsuite jar at run
  * time (W3C-published files; nothing is copied into this repo). Each
  * manifest.ttl is parsed with OUR Turtle reader against its original W3C
  * base URL, so relative file IRIs resolve to the same absolute IRIs the
  * expected results use (dataset tests bind ?g to those IRIs).
  *
  * Evaluation runs under strict SPARQL dataset semantics (default graph =
  * qt:data only, NOT the store-wide union the quads-mode engine defaults
  * to). FROM/FROM NAMED graphs that name suite files are loaded on demand,
  * mirroring SPARQLQueryTest's URL dereference.
  *
  * Exclusions (whole dirs): entailment* (this engine does inference as
  * materialized closure programs, not query-time entailment regimes — the
  * reference excludes these too), service (live remote endpoints;
  * federation is covered end-to-end by W3cFederationSpec over real HTTP),
  * csv-tsv-res (result-format round-trip tests; CSV's lossy term
  * projection needs a dedicated comparator). Per-case exclusions carry
  * their reason inline below.
  */
class W3cSparqlTckSpec extends SparkSpecBase
    with org.scalatest.concurrent.TimeLimitedTests {

  import SparqlTck._

  override val timeLimit = org.scalatest.time.Span(300, org.scalatest.time.Seconds)

  private val available = jarPath.isDefined

  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val out = super.withFixture(test)
    // free per-case scratch (same hygiene as RefSparqlSpec: path fixpoints
    // localCheckpoint; hundreds of cases would otherwise accumulate)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    out
  }

  if (!available) test("w3c sparql tck: testsuite jar present") {
    cancel(s"no SPARQL testsuite jar at $jarFile; the TCK cases are not registered")
  }

  if (available) {
    val entries = allEntries
    test("w3c sparql tck discovery") {
      val runnable = entries.filterNot(e => excludedCase(e).isDefined)
      info(s"${entries.size} manifest entries, ${runnable.size} runnable")
      assert(runnable.size >= 400, s"expected >= 400 runnable, got ${runnable.size}")
    }

    val labelSeen = scala.collection.mutable.Map.empty[String, Int]
    entries.foreach { e =>
      val base = s"w3c tck: ${e.suite}/${e.dir}: ${e.name}"
      val n = labelSeen.updateWith(base)(c => Some(c.getOrElse(0) + 1)).get
      // a few manifests list the same case twice; disambiguate, don't drop
      val label = if (n == 1) base else s"$base #$n"
      excludedCase(e) match {
        case Some(reason) =>
          ignore(label + s" [excluded: $reason]") {}
        case None => test(label) {
          e.typ match {
            case "QueryEvaluationTest" => runQueryEval(e)
            case "PositiveSyntaxTest" | "PositiveSyntaxTest11" =>
              Parser.parse(spark, text(e.query.get), e.query.get)
            case "NegativeSyntaxTest" | "NegativeSyntaxTest11" =>
              intercept[Exception] {
                Parser.parse(spark, text(e.query.get), e.query.get)
              }
            case "PositiveUpdateSyntaxTest11" =>
              Update.validate(spark, emptyStore, text(e.query.get))
            case "NegativeUpdateSyntaxTest11" =>
              intercept[Exception] {
                Update.validate(spark, emptyStore, text(e.query.get))
              }
            case "UpdateEvaluationTest" => runUpdateEval(e)
            case other => fail(s"unhandled test type $other")
          }
        }
      }
    }
  }

  private def emptyStore: DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), quadSchema)

  private def loadFile(iri: String, graphName: Option[String]): DataFrame = {
    val p = localOf(iri).toString
    val df =
      if (iri.endsWith(".nt")) NTriples.read(spark, p)
      else if (iri.endsWith(".rdf")) RdfXml.read(spark, p, iri)
      else Turtle.read(spark, p, iri)
    graphName match {
      case Some(g) => df.withColumn("c", Term.iri(g))
      case None => df
    }
  }

  private def buildStore(data: Seq[String],
                         graphData: Seq[(String, String)]): DataFrame = {
    // blank nodes are scoped per DOCUMENT: the same file loaded into two
    // graphs (or two files sharing _:b labels) must not share bnodes
    // (dawg graph-09/10/10b join across graphs on bnodes and expect the
    // empty result). Labels canonicalize to _:b in the comparators.
    def scoped(df: DataFrame, idx: Int): DataFrame = {
      def ren(c: Column): Column =
        when(Term.isBnode(c), Term.bnode(concat(Term.lex(c), lit(s"@d$idx"))))
          .otherwise(c)
      df.select(ren(col("s")).as("s"), col("p"), ren(col("o")).as("o"), col("c"))
    }
    val parts = (data.map(loadFile(_, None)) ++
      graphData.map { case (f, g) => loadFile(f, Some(g)) })
      .zipWithIndex.map { case (df, i) => scoped(df, i) }
    // an RDF graph is a SET: "abc" and "abc"^^xsd:string in the source
    // are one statement
    parts.reduceOption(_ unionByName _).getOrElse(emptyStore).distinct()
  }

  private def runQueryEval(e: TckEntry): Unit = {
    val queryIri = e.query.get
    val q = Parser.parse(spark, text(queryIri), queryIri)
    var store = buildStore(e.data, e.graphData)
    // FROM/FROM NAMED naming suite files not already in the store: load
    // them as named graphs (SPARQLQueryTest dereferences the URLs)
    val have = e.graphData.map(_._2).toSet
    val want = (q.fromDefault ++ q.fromNamed).distinct
      .filterNot(have)
      .filter(iri => Files.exists(localOf(iri)))
    if (want.nonEmpty)
      store = store.unionByName(
        want.map(iri => loadFile(iri, Some(iri))).reduce(_ unionByName _))
    val ds = Parser.datasetQuads(store, q, unionDefaultGraph = false)
    q.form match {
      case Parser.AskForm =>
        val got = QueryForms.ask(ds, q.node)
        val want = expectedBoolean(e.result.get)
        assert(got == want, s"ASK: got $got want $want")
      case Parser.SelectForm
          if e.result.exists(r => r.endsWith(".csv") || r.endsWith(".tsv")) =>
        // result-format round-trip (csv-tsv-res): render through the
        // engine's own CSV/TSV sinks and compare the serialized text.
        // Normalizations: line endings, bnode labels (arbitrary), and the
        // TSV shorthand equivalences (xsd:string tag is optional under
        // RDF 1.1; numeric literals may render bare)
        val isCsv = e.result.get.endsWith(".csv")
        val got0 = Translator.translate(ds, q.node).df
        val gotTxt = if (isCsv) Results.toCsv(got0) else Results.toTsv(got0)
        def norm(s: String): Seq[String] = {
          val numDt = "\\^\\^<http://www\\.w3\\.org/2001/XMLSchema#(integer|decimal|double)>"
          val lines = s.split("\r?\n").toSeq.filter(_.nonEmpty).map { l =>
            l.replaceAll("_:[A-Za-z0-9_:.@/-]+", "_:b")
              .replaceAll("\"([^\"]*)\"\\^\\^<http://www\\.w3\\.org/2001/XMLSchema#string>", "\"$1\"")
              .replaceAll("\"([^\"]*)\"" + numDt, "$1")
          }
          lines.headOption.toSeq ++ lines.drop(1).sorted
        }
        val (gotN, expN) = (norm(gotTxt), norm(text(e.result.get)))
        assert(gotN == expN,
          s"\ngot:\n${gotN.mkString("\n")}\nwant:\n${expN.mkString("\n")}")
      case Parser.SelectForm =>
        val (headVars, expDf) = expectedSolutions(e.result.get)
        val vars =
          if (q.projection.nonEmpty && headVars.exists(q.projection.contains))
            headVars.filter(q.projection.contains)
          else headVars
        val got = Translator.translate(ds, q.node).df
        var (gotR, expR) = (render(got, vars), render(expDf, vars))
        // REDUCED permits any amount of duplicate elimination — the W3C
        // harness compares these with lax cardinality (SPARQLQueryTest's
        // laxCardinality mode); this engine implements REDUCED = DISTINCT
        if ("(?i)\\bREDUCED\\b".r.findFirstIn(text(queryIri)).isDefined) {
          gotR = gotR.distinct; expR = expR.distinct
        }
        assert(gotR == expR,
          s"\nvars: ${vars.mkString(",")}\ngot:\n${gotR.mkString("\n")}\nwant:\n${expR.mkString("\n")}")
      case Parser.ConstructForm | Parser.DescribeForm =>
        val expDf = loadFile(e.result.get, None)
        val got =
          if (q.form == Parser.ConstructForm)
            QueryForms.construct(ds, q.node, q.template)
          else Parser.describe(spark, ds, text(queryIri))
        val spo = Seq("s", "p", "o")
        val (gotR, expR) = (render(got, spo), render(expDf, spo))
        assert(gotR == expR,
          s"\ngot:\n${gotR.mkString("\n")}\nwant:\n${expR.mkString("\n")}")
    }
  }

  private def runUpdateEval(e: TckEntry): Unit = {
    val store = buildStore(e.data, e.graphData)
    val out = Update.execute(spark, store, text(e.query.get))
    val expected = buildStore(e.resultData, e.resultGraphData)
    val cols = Seq(col("s"), col("p"), col("o"),
                   coalesce(Term.lex(col("c")), lit("")).as("g"))
    def renderQ(df: DataFrame): Seq[String] =
      df.select(concat_ws("\t",
          NTriples.termToString(col("s")), NTriples.termToString(col("p")),
          NTriples.termToString(col("o")),
          coalesce(Term.lex(col("c")), lit(""))).as("line"))
        .collect().map(_.getString(0))
        .map(_.replaceAll("_:[A-Za-z0-9_:.@/-]+", "_:b")).sorted.toSeq
    val (gotR, expR) = (renderQ(out), renderQ(expected))
    assert(gotR == expR,
      s"\ngot:\n${gotR.mkString("\n")}\nwant:\n${expR.mkString("\n")}")
  }

  // ---- expected results ----

  private def expectedBoolean(iri: String): Boolean = {
    val content = text(iri)
    if (iri.endsWith(".srx"))
      "<boolean>\\s*(true|false)\\s*</boolean>".r.findFirstMatchIn(content)
        .map(_.group(1).toBoolean)
        .getOrElse(fail(s"no <boolean> in $iri"))
    else if (iri.endsWith(".srj"))
      "\"boolean\"\\s*:\\s*(true|false)".r.findFirstMatchIn(content)
        .map(_.group(1).toBoolean)
        .getOrElse(fail(s"no boolean in $iri"))
    else dawgBoolean(loadFile(iri, None))
  }

  private def expectedSolutions(iri: String): (Seq[String], DataFrame) =
    if (iri.endsWith(".srx")) Results.fromXml(spark, text(iri))
    else if (iri.endsWith(".srj")) Results.fromJson(spark, text(iri))
    else dawgResultSet(loadFile(iri, None))

  private val rs = "http://www.w3.org/2001/sw/DataAccess/tests/result-set#"

  private def dawgBoolean(g: DataFrame): Boolean =
    g.filter(col("p") === Term.iri(rs + "boolean"))
      .select(Term.lex(col("o"))).head().getString(0).toBoolean

  /** DAWG rs:ResultSet graph → (vars, solutions) — same pivot as
    * RefSparqlSpec but over an already-loaded graph.
    */
  private def dawgResultSet(g: DataFrame): (Seq[String], DataFrame) = {
    def byPred(pred: String) = g.filter(col("p") === Term.iri(rs + pred))
    val vars = byPred("resultVariable")
      .select(Term.lex(col("o"))).collect().map(_.getString(0)).toSeq.distinct
    val sols = byPred("solution").select(col("o").as("sol"))
    val bindings = byPred("binding")
      .select(col("s").as("sol2"), col("o").as("b"))
    val bvar = byPred("variable").select(col("s").as("b1"), Term.lex(col("o")).as("v"))
    val bval = byPred("value").select(col("s").as("b2"), col("o").as("value"))
    val long = sols
      .join(bindings, col("sol") === col("sol2"))
      .join(bvar, col("b") === col("b1"))
      .join(bval, col("b") === col("b2"))
      .select(col("sol"), col("v"), col("value"))
    val wide = long.groupBy("sol").pivot("v", vars).agg(first(col("value")))
      .drop("sol")
    val nEmpty = sols.count() - long.select("sol").distinct().count()
    val expDf =
      if (nEmpty == 0) wide
      else (1L to nEmpty).foldLeft(wide)((d, _) =>
        d.unionByName(spark.range(1).select(vars.map(v => Term.unbound.as(v)): _*)))
    (vars, expDf)
  }

  private def render(df: DataFrame, vars: Seq[String]): Seq[String] = {
    val cols = vars.map { v =>
      val c = if (df.columns.contains(v)) col(v) else Term.unbound
      coalesce(NTriples.termToString(c), lit(""))
    }
    df.select(concat_ws("\t", cols: _*).as("line"))
      .collect().map(_.getString(0))
      .map(_.replaceAll("_:[A-Za-z0-9_:.@/-]+", "_:b"))
      // language tags compare case-insensitively (BCP 47); the suite files
      // mix "en-US" and "en-us"
      .map(langTagLower)
      .sorted.toSeq
  }

  private def langTagLower(line: String): String =
    "@[A-Za-z0-9-]+".r.replaceAllIn(line, m => m.matched.toLowerCase)
}

/** Jar access, URL mapping, and manifest walking for the SPARQL TCK. */
object SparqlTck {

  val jarFile: Path =
    Paths.get(
      "/root/reference/bigdata-sails/lib/sesame-sparql-testsuite-2.6.10.jar")
  val jarPath: Option[Path] = Option.when(Files.exists(jarFile))(jarFile)

  val quadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("s", Term.schema),
    org.apache.spark.sql.types.StructField("p", Term.schema),
    org.apache.spark.sql.types.StructField("o", Term.schema),
    org.apache.spark.sql.types.StructField("c", Term.schema)))

  /** One-time extraction of the suite files to a temp dir (the Spark
    * readers want file paths).
    */
  lazy val root: Path = {
    val dir = Files.createTempDirectory("sparql-tck")
    val zf = new ZipFile(jarPath.get.toFile)
    try {
      zf.entries().asScala.filter(e => !e.isDirectory &&
          e.getName.startsWith("testcases-dawg")).foreach { e =>
        val dst = dir.resolve(e.getName)
        Files.createDirectories(dst.getParent)
        // The jar's delete/delete-pre-03.ttl is a stale pre-erratum copy
        // (<http://example/>, example.com mboxes); the expected post-files
        // and every sibling suite dir in the SAME jar carry the corrected
        // <http://example.org/> data the W3C published. Substitute the
        // corrected bytes so the 8 delete tests compare against the data
        // their results were approved for.
        val src =
          if (e.getName == "testcases-dawg-sparql-1.1/delete/delete-pre-03.ttl")
            zf.getEntry("testcases-dawg-sparql-1.1/delete-data/delete-pre-03.ttl")
          else e
        Files.copy(zf.getInputStream(src), dst)
      }
    } finally zf.close()
    dir.toFile.deleteOnExit()
    dir
  }

  private val R2Url = "http://www.w3.org/2001/sw/DataAccess/tests/"
  private val S11Url = "http://www.w3.org/2009/sparql/docs/tests/data-sparql11/"

  def localOf(iri: String): Path =
    if (iri.startsWith(R2Url))
      root.resolve("testcases-dawg/" + iri.stripPrefix(R2Url))
    else if (iri.startsWith(S11Url))
      root.resolve("testcases-dawg-sparql-1.1/" + iri.stripPrefix(S11Url))
    else sys.error(s"IRI outside the suites: $iri")

  def urlOf(jarDir: String): String =
    if (jarDir.startsWith("testcases-dawg-sparql-1.1/"))
      S11Url + jarDir.stripPrefix("testcases-dawg-sparql-1.1/")
    else R2Url + jarDir.stripPrefix("testcases-dawg/")

  def text(iri: String): String = Files.readString(localOf(iri))

  final case class TckEntry(
      suite: String, dir: String, name: String, typ: String,
      query: Option[String], data: Seq[String],
      graphData: Seq[(String, String)], result: Option[String],
      resultData: Seq[String], resultGraphData: Seq[(String, String)])

  private val Mf = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
  private val Qt = "http://www.w3.org/2001/sw/DataAccess/tests/test-query#"
  private val Ut = "http://www.w3.org/2009/sparql/tests/test-update#"
  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val RdfsNs = "http://www.w3.org/2000/01/rdf-schema#"

  /** Directories excluded wholesale (reason in the suite scaladoc). */
  private val excludedDirs = Set(
    "entailment", "entailment-RDF", "entailment-RDFS", "entailment-owlds",
    "service", "protocol")

  def excludedCase(e: TckEntry): Option[String] = caseExclusions.get(e.name)

  /** Per-case exclusions, reason inline (the BigdataSparqlTest pattern of
    * a documented known-exclusion list, BigdataSparqlTest.java:110-129).
    *
    * The pp1x/pp2x group: this vendored 2011-era suite expects the DRAFT's
    * path-counting semantics for closures (:p+ / :p* / (:p/:p)? return one
    * row PER PATH). The 2012 erratum and the final REC §18.4 made
    * arbitrary-length paths duplicate-free, which is what this engine (and
    * the reference's ArbitraryLengthPathOp) implements — fixed-length
    * paths DO keep bag semantics, so only the closure-counting cases are
    * excluded.
    */
  val caseExclusions: Map[String, String] = Map(
    // RDF 1.1 collapses "abc"^^xsd:string and "abc" into ONE term (this
    // engine's model); these two cases require them to behave differently
    // (typed input → STRDT/STRLANG error, plain input → success)
    "STRDT() TypeErrors" -> "needs RDF 1.0 distinction of \"x\"^^xsd:string vs \"x\" (engine is RDF 1.1)",
    "STRLANG() TypeErrors" -> "needs RDF 1.0 distinction of \"x\"^^xsd:string vs \"x\" (engine is RDF 1.1)",
    "(pp16) Duplicate paths and cycles through foaf:knows*" -> "draft path-counting over * (final REC is duplicate-free)",
    "(pp21) Diamond -- :p+" -> "draft path-counting over + (final REC is duplicate-free)",
    "(pp23) Diamond, with tail -- :p+" -> "draft path-counting over + (final REC is duplicate-free)",
    "(pp25) Diamond, with loop -- :p+" -> "draft path-counting over + (final REC is duplicate-free)",
    "(pp28) Diamond, with loop -- (:p/:p)?" -> "draft path-counting over ? (final REC is duplicate-free)",
    "(pp29) Diamond, with loop -- :p{2,}" -> "draft path-counting over the unbounded tail (final REC is duplicate-free)",
    "(pp31) Operator precedence 2" -> "draft path-counting over + (final REC is duplicate-free)",
    "(pp12) Variable length path and two paths to same target node" -> "draft path-counting over + (final REC is duplicate-free)",
    // the reference runs this same vendored suite and excludes the
    // following as cannotInlineTests (BigdataSparqlTest.java:80-104): its
    // inline numeric IVs normalize lexical forms at load ("01" = "1"), and
    // so does this engine's `num`-slot canonicalization — the cases test
    // syntactic distinctions the store deliberately erases
    "sameTerm-simple" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests)",
    "sameTerm-eq" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests)",
    "sameTerm-not-eq" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests)",
    "str-1" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests)",
    "str-2" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests)",
    "Equality 1-1 -- graph" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests eq-graph-1)",
    "Equality 1-2 -- graph" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests eq-graph-2)",
    "Numbers: Distinct" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests distinct-1)",
    "All: Distinct" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests distinct-9)",
    "date-2" -> "numeric/date inlining normalizes lexical forms (reference cannotInlineTests date-2)",
    "open-eq-01" -> "numeric inlining normalizes lexical forms (reference cannotInlineTests open-eq-01)",
    "csv03 - CSV Result Format" -> "numeric inlining normalizes \"1.0e6\" to its canonical form (reference cannotInlineTests class)",
    "tsv03 - TSV Result Format" -> "numeric inlining normalizes \"1.0e6\" to its canonical form (reference cannotInlineTests class)",
    // RDF 1.1: "abc" and "abc"^^xsd:string are ONE term in this engine's
    // model; the pre-1.1 suite expects them to stay distinct
    "Strings: Distinct" -> "RDF 1.1 collapses simple and xsd:string literals (pre-1.1 expectation)",
    // BINDINGS deliberately keeps the reference's initial-binding
    // semantics (it seeds evaluation, diverging from W3C join-after —
    // see the BINDINGS branch in Parser.scala; the reference excludes the
    // federation case that disagrees, TestFederatedQuery.java:441-444)
    "b7" -> "BINDINGS = initial-binding semantics, matching the reference (documented divergence)",
    // the 005 pair ships two mutually exclusive expected results; an
    // engine passes exactly one depending on whether it simplifies the
    // doubly-nested group. This engine evaluates the group unsimplified
    // and passes dawg-optional-filter-005-not-simplified.
    "dawg-optional-filter-005-simplified" -> "passes the not-simplified twin (engines pass exactly one of the 005 pair)")

  lazy val allEntries: Seq[TckEntry] = {
    val zf = new ZipFile(jarPath.get.toFile)
    val manifests =
      try zf.entries().asScala.map(_.getName)
        .filter(n => n.endsWith("/manifest.ttl") && n.startsWith("testcases-dawg"))
        .toVector.sorted
      finally zf.close()
    manifests
      .filterNot(m => excludedDirs.contains(m.split('/').init.last))
      .flatMap(parseManifest)
  }

  private def parseManifest(entryName: String): Seq[TckEntry] = {
    val jarDir = entryName.substring(0, entryName.lastIndexOf('/') + 1)
    val suite = if (jarDir.startsWith("testcases-dawg-sparql-1.1")) "sparql11" else "data-r2"
    // split drops the trailing empty segment, so .last IS the manifest's dir
    val dir = jarDir.split('/').last
    val baseUrl = urlOf(entryName)
    val content = Files.readString(root.resolve(entryName))
    val quads = Turtle.parseQuads(content, baseUrl).toVector

    def objs(s: Row, p: String): Seq[Row] =
      quads.collect { case (s2, p2, o, _) if s2 == s && p2.getString(1) == p => o }
    def obj(s: Row, p: String): Option[Row] = objs(s, p).headOption
    def items(head: Row): Seq[Row] =
      if (head.getByte(0) == 0 && head.getString(1) == RdfNs + "nil") Nil
      else obj(head, RdfNs + "first").toSeq.flatMap(f =>
        f +: obj(head, RdfNs + "rest").map(items).getOrElse(Nil))

    val entriesHead = quads.collectFirst {
      case (_, p, o, _) if p.getString(1) == Mf + "entries" => o
    }
    entriesHead.toSeq.flatMap(items).flatMap { e =>
      val typ = obj(e, RdfNs + "type").map(_.getString(1)).getOrElse("")
        .replaceAll(".*#", "")
      val name = obj(e, Mf + "name").map(_.getString(1)).filter(_.nonEmpty)
        .getOrElse(e.getString(1).replaceAll(".*#", ""))
      val action = obj(e, Mf + "action")
      if (action.isEmpty) None
      else {
        val a = action.get
        // syntax tests: the action IS the query file IRI
        val directFile = if (a.getByte(0) == 0) Some(a.getString(1)) else None
        val query = directFile
          .orElse(obj(a, Qt + "query").map(_.getString(1)))
          .orElse(obj(a, Ut + "request").map(_.getString(1)))
        val data = objs(a, Qt + "data").map(_.getString(1)) ++
          objs(a, Ut + "data").map(_.getString(1))
        def graphDataOf(node: Row): Seq[(String, String)] =
          objs(node, Qt + "graphData").map(g => (g.getString(1), g.getString(1))) ++
          objs(node, Ut + "graphData").map { gd =>
            val f = obj(gd, Ut + "graph").map(_.getString(1))
              .getOrElse(sys.error(s"$name: ut:graphData without ut:graph"))
            val label = obj(gd, RdfsNs + "label").map(_.getString(1)).getOrElse(f)
            (f, label)
          }
        val result = obj(e, Mf + "result")
        val (resultFile, resultData, resultGraphData) = result match {
          case Some(r) if r.getByte(0) == 0 => (Some(r.getString(1)), Nil, Nil)
          case Some(r) =>
            (None, objs(r, Ut + "data").map(_.getString(1)), graphDataOf(r))
          case None => (None, Nil, Nil)
        }
        Some(TckEntry(suite, dir, name, typ, query, data, graphDataOf(a),
                      resultFile, resultData, resultGraphData))
      }
    }
  }
}
