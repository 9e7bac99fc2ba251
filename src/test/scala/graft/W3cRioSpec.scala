package graft

import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipFile
import org.apache.spark.sql.Row
import graft.rdf.{NTriples, Turtle}
import scala.jdk.CollectionConverters._

/** W3C / openrdf RIO parser conformance: the Turtle, TriG and N-Triples
  * syntax suites the reference runs through Sesame's RIO test harness
  * (bigdata-rdf/lib/sesame-rio-testsuite-2.6.10.jar, driven by
  * org.openrdf.rio.turtle.TurtleParserTestCase etc. — the reference wires
  * them in bigdata-rdf/src/test/com/bigdata/rdf/rio/).
  *
  * The suite data is read straight out of the reference's testsuite jar at
  * run time (W3C-published test files; nothing is copied into this repo).
  * Each positive case parses a document against its original W3C base URI
  * and compares the triples with the expected N-Triples file modulo blank
  * node labels; each negative case must throw.
  *
  * TriG expected files are triple-level (Sesame's suite compares
  * statements without contexts), so TriG cases compare the (s, p, o)
  * projection.
  */
class W3cRioSpec extends org.scalatest.funsuite.AnyFunSuite {

  import W3cRioSpec._

  private val available = jarPath.isDefined

  if (!available) test("w3c rio suites: testsuite jar present") {
    cancel(s"no RIO testsuite jar at $jarFile; the turtle/trig/ntriples cases are not registered")
  }

  // ---- turtle ----

  private val turtleBase = "http://www.w3.org/2001/sw/DataAccess/df1/tests/"

  if (available) {
    val cases = manifestCases("testcases/turtle/manifest.ttl")
    test("w3c turtle suite discovered") { assert(cases.size >= 30) }
    cases.foreach { c =>
      test(s"w3c turtle syntax: ${c.name}") {
        val got = Turtle.parseDoc(entry(c.data), turtleBase + fileName(c.data))
          .map { case (s, p, o) => renderTriple(s, p, o) }.toSeq
        val want = NTriples.parseDocJvm(entry(c.result.get))
          .map { case (s, p, o) => renderTriple(s, p, o) }
        assertTriples(got, want)
      }
    }
    manifestCases("testcases/turtle/manifest-bad.ttl").foreach { c =>
      test(s"w3c turtle negative syntax: ${c.name}") {
        intercept[Exception] { Turtle.parseDoc(entry(c.data), turtleBase).toVector }
      }
    }
  }

  // ---- trig ----

  if (available) {
    val cases = manifestCases("testcases/trig/manifest.ttl")
    test("w3c trig suite discovered") { assert(cases.size >= 5) }
    cases.foreach { c =>
      test(s"w3c trig syntax: ${c.name}") {
        val got = Turtle.parseQuads(entry(c.data), turtleBase + fileName(c.data))
          .map { case (s, p, o, _) => renderTriple(s, p, o) }.toSeq.distinct
        val want = NTriples.parseDocJvm(entry(c.result.get))
          .map { case (s, p, o) => renderTriple(s, p, o) }.distinct
        assertTriples(got, want)
      }
    }
    manifestCases("testcases/trig/manifest-bad.ttl").foreach { c =>
      test(s"w3c trig negative syntax: ${c.name}") {
        intercept[Exception] { Turtle.parseQuads(entry(c.data), turtleBase).toVector }
      }
    }
  }

  // ---- ntriples ----

  if (available) {
    test("w3c ntriples suite: test.nt parses and round-trips") {
      val triples = NTriples.parseDocJvm(entry("testcases/ntriples/test.nt"))
      assert(triples.size == 30, s"expected the suite's 30 triples, got ${triples.size}")
      // round-trip: render and re-parse must be a fixpoint
      val rendered = triples.map { case (s, p, o) =>
        s"${renderT(s)} ${renderT(p)} ${renderT(o)} ." }.mkString("\n")
      val again = NTriples.parseDocJvm(rendered)
      assert(again == triples, "render→parse is not a fixpoint")
    }
  }
}

object W3cRioSpec {

  val jarFile: Path =
    Paths.get(
      "/root/reference/bigdata-rdf/lib/sesame-rio-testsuite-2.6.10.jar")
  val jarPath: Option[Path] = Option.when(Files.exists(jarFile))(jarFile)

  /** Read one jar entry as UTF-8 text. */
  def entry(name: String): String = {
    val zf = new ZipFile(jarPath.get.toFile)
    try {
      val e = zf.getEntry(name)
      require(e != null, s"missing jar entry $name")
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    } finally zf.close()
  }

  def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  final case class RioCase(name: String, data: String, result: Option[String])

  private val Mf = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
  private val Qt = "http://www.w3.org/2001/sw/DataAccess/tests/test-query#"
  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  /** Walk an mf:Manifest (parsed with our own Turtle reader — the harness
    * dogfoods the parser it tests): mf:entries collection of anonymous
    * cases, each with mf:name, mf:action [ qt:data <file> ], mf:result.
    */
  def manifestCases(manifestEntry: String): Seq[RioCase] = {
    val dir = manifestEntry.substring(0, manifestEntry.lastIndexOf('/') + 1)
    val quads = Turtle.parseQuads(entry(manifestEntry), "").toVector
    def objs(s: Row, p: String): Seq[Row] =
      quads.collect { case (s2, p2, o, _) if s2 == s && p2.getString(1) == p => o }
    def obj(s: Row, p: String): Option[Row] = objs(s, p).headOption
    def items(head: Row): Seq[Row] =
      if (head.getByte(0) == 0 && head.getString(1) == RdfNs + "nil") Nil
      else obj(head, RdfNs + "first").toSeq.flatMap(f =>
        f +: obj(head, RdfNs + "rest").map(items).getOrElse(Nil))
    val entriesHead = quads.collectFirst {
      case (_, p, o, _) if p.getString(1) == Mf + "entries" => o
    }.getOrElse(sys.error(s"no mf:entries in $manifestEntry"))
    items(entriesHead).map { e =>
      val name = obj(e, Mf + "name").map(_.getString(1))
        .getOrElse(sys.error("case without mf:name"))
      val action = obj(e, Mf + "action").getOrElse(sys.error(s"$name: no action"))
      val data = obj(action, Qt + "data").map(_.getString(1))
        .getOrElse(sys.error(s"$name: no qt:data"))
      val result = obj(e, Mf + "result").map(_.getString(1))
      RioCase(name, dir + fileName(data), result.map(r => dir + fileName(r)))
    }
  }

  def renderT(t: Row): String =
    NTriples.termToStringJvm(t.getByte(0), t.getString(1), t.getString(2),
                             t.getString(3))

  /** Render a triple with blank-node labels collapsed (labels are
    * arbitrary; the corpus needs no full isomorphism — same convention as
    * RefSparqlSpec).
    */
  def renderTriple(s: Row, p: Row, o: Row): String =
    Seq(s, p, o).map(renderT).mkString(" ")
      .replaceAll("_:[A-Za-z0-9_:.-]+", "_:b")

  def assertTriples(got: Seq[String], want: Seq[String]): Unit =
    assert(got.sorted == want.sorted,
      s"\ngot:\n${got.sorted.mkString("\n")}\nwant:\n${want.sorted.mkString("\n")}")
}
