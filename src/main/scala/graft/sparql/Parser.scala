package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rdf.Term
import Algebra._

/** SPARQL 1.1 text parser (hand-rolled recursive descent) for the query
  * subset the engine evaluates: SELECT / ASK / CONSTRUCT with BGPs, property
  * paths, FILTER (incl. EXISTS/NOT EXISTS), OPTIONAL, UNION, MINUS, BIND,
  * VALUES, GRAPH, sub-SELECT, aggregates + GROUP BY/HAVING, DISTINCT,
  * ORDER BY/LIMIT/OFFSET.
  *
  * Reference analogue: Bigdata2ASTSPARQLParser (javacc grammar sparql.jjt,
  * /root/reference/bigdata-sails/src/java/com/bigdata/rdf/sail/sparql/
  * Bigdata2ASTSPARQLParser.java:348); aggregate rewriting to internal
  * variables mirrors GroupByRewriter
  * (/root/reference/bigdata/src/java/com/bigdata/bop/solutions/
  * GroupByRewriter.java:62).
  */
object Parser {

  sealed trait Form
  case object SelectForm extends Form
  case object AskForm extends Form
  case object ConstructForm extends Form
  case object DescribeForm extends Form

  final case class Query(
      form: Form,
      node: Node,
      projection: Seq[String],           // empty = SELECT *
      distinct: Boolean,
      template: Seq[(QueryForms.TPos, QueryForms.TPos, QueryForms.TPos)],
      // per-template-triple graph position for TriG-style quads templates
      // (CONSTRUCT { GRAPH ?g { ... } } — the reference's construct-quads
      // extension, ASTConstructIterator quads handling); empty = all triples
      // in the default graph. Parallel to `template`.
      templateGraphs: Seq[Option[QueryForms.TPos]] = Nil,
      fromDefault: Seq[String] = Nil,    // FROM <g> dataset clauses
      fromNamed: Seq[String] = Nil,      // FROM NAMED <g> dataset clauses
      // FROM [NAMED] VIRTUAL GRAPH <vg>: graph sets declared in-data via
      // `<vg> bd:virtualGraph <member>` (reference TestVirtualGraphs.java:80)
      fromVirtualDefault: Seq[String] = Nil,
      fromVirtualNamed: Seq[String] = Nil,
      describeTerms: Seq[Column] = Nil,  // DESCRIBE's constant nodes
      describeMode: Option[String] = None, // hint:describeMode
      // all hint: statements, local-name -> value (QueryHints.java:74).
      // Two get plan effect here: optimizer "None" pins written join order
      // (Bgp.fixedOrder), optimizer "Runtime" routes through the sampled
      // RTO (Translator.translateSampled). The rest are recorded and
      // surfaced by EXPLAIN — Catalyst owns the physical planning they
      // steered in the reference (analytic/chunkSize/maxParallel).
      hints: Map[String, String] = Map.empty)

  /** Parse and evaluate a SELECT query; returns the solution DataFrame
    * (term-struct columns).
    */
  def select(spark: SparkSession, quads: DataFrame, text: String,
             unionDefaultGraph: Boolean = false): DataFrame = {
    val q = parse(spark, text)
    require(q.form == SelectForm, s"not a SELECT query: ${q.form}")
    val ds = datasetQuads(quads, q, unionDefaultGraph)
    inHintScope(ds, q) { Translator.translate(ds, q.node).df }
  }

  def ask(spark: SparkSession, quads: DataFrame, text: String,
          unionDefaultGraph: Boolean = false): Boolean = {
    val q = parse(spark, text)
    val ds = datasetQuads(quads, q, unionDefaultGraph)
    inHintScope(ds, q) { QueryForms.ask(ds, q.node) }
  }

  def construct(spark: SparkSession, quads: DataFrame, text: String,
                unionDefaultGraph: Boolean = false): DataFrame = {
    val q = parse(spark, text)
    val ds = datasetQuads(quads, q, unionDefaultGraph)
    inHintScope(ds, q) {
      if (q.templateGraphs.exists(_.isDefined))
        QueryForms.constructQuads(ds, q.node, q.template, q.templateGraphs)
      else QueryForms.construct(ds, q.node, q.template)
    }
  }

  /** `hint:Query hint:optimizer "Runtime"` activates the sampled runtime
    * optimizer for every BGP evaluated under this query (the reference's
    * RTO enable hint, QueryHints.java:108-145). "None" was already applied
    * structurally at parse time (Bgp.fixedOrder).
    */
  private def inHintScope[T](quads: DataFrame, q: Query)(body: => T): T =
    if (q.hints.get("optimizer").contains("Runtime"))
      Translator.withRuntimeSampling(quads)(body)
    else body

  /** Realize the query's dataset description (FROM / FROM NAMED) as a quad
    * store rewrite, so the translator's conventions — default graph = NULL
    * context, named graphs = non-NULL — see exactly the described dataset
    * (reference: DatasetNode + the DataSetSummary handling in
    * AST2BOpContext; ASTDatasetOptimizer).
    *
    * With no dataset clause, `unionDefaultGraph` selects the reference's
    * quads-mode default (AbstractTripleStore.Options.UNION_DEFAULT_GRAPH
    * analogue): the default graph is the RDF *merge* (set union) of all
    * graphs. FROM graphs likewise merge with DISTINCT — duplicates across
    * source graphs collapse, which is what makes a non-DISTINCT join over
    * the merged default graph return set results.
    */
  def datasetQuads(quads: DataFrame, q0: Query, unionDefaultGraph: Boolean): DataFrame = {
    import graft.rdf.Term
    // expand virtual graphs to their declared members (a driver-side
    // lookup over the membership statements — the member list is small
    // by construction, like a FROM list)
    val q =
      if (q0.fromVirtualDefault.isEmpty && q0.fromVirtualNamed.isEmpty) q0
      else {
        def members(vg: String): Seq[String] = {
          // config-sized by construction, but guard the driver collect
          // against a store-sized declaration (the downstream isin literal
          // could not hold one either): fail loudly, never OOM
          val guard = 100000
          val rows = graft.util.Bounded.collect(quads
            .filter(col("p") === Term.iri("http://www.bigdata.com/rdf#virtualGraph") &&
                    Term.lex(col("s")) === vg)
            .select(Term.lex(col("o"))), guard)
          require(rows.isDefined,
            s"virtual graph <$vg> declares more than $guard members")
          rows.get.map(_.getString(0)).toSeq
        }
        q0.copy(
          fromDefault = q0.fromDefault ++ q0.fromVirtualDefault.flatMap(members),
          fromNamed = q0.fromNamed ++ q0.fromVirtualNamed.flatMap(members))
      }
    val base = quads.select("s", "p", "o", "c")
    if (q.fromDefault.isEmpty && q.fromNamed.isEmpty) {
      if (!unionDefaultGraph) quads
      else
        base.select("s", "p", "o").dropDuplicates()
          .withColumn("c", Term.unbound)
          .unionByName(base.filter(col("c").isNotNull))
    } else {
      val cLex = Term.lex(col("c"))
      // the FROM default graph is the RDF *merge* of the named sources:
      // blank nodes are per-graph-instance, so the default-graph copy must
      // not share bnodes with a FROM NAMED copy of the same source (or
      // another merged source) — suffix bnode labels with the source graph
      // (dawg dataset-09/10, graph-09/10)
      def mergeScoped(t: Column): Column =
        when(Term.isBnode(t),
             Term.bnode(concat(Term.lex(t), lit("@"), cLex)))
          .otherwise(t)
      val dflt =
        if (q.fromDefault.isEmpty) base.limit(0)
        else base.filter(col("c").isNotNull && cLex.isin(q.fromDefault: _*))
          .select(mergeScoped(col("s")).as("s"), col("p"),
                  mergeScoped(col("o")).as("o"))
          .dropDuplicates()
          .withColumn("c", Term.unbound)
      val named =
        if (q.fromNamed.isEmpty) base.limit(0)
        else base.filter(col("c").isNotNull && cLex.isin(q.fromNamed: _*))
      dflt.unionByName(named)
    }
  }

  /** DESCRIBE: resolve the target nodes (constants, or the projected vars'
    * values from the WHERE clause) and return their CBD triples.
    */
  def describe(spark: SparkSession, quads: DataFrame, text: String): DataFrame = {
    val q = parse(spark, text)
    require(q.form == DescribeForm, s"not a DESCRIBE query: ${q.form}")
    import org.apache.spark.sql.functions.col
    inHintScope(quads, q) {
    val varNodes: Option[DataFrame] = q.node match {
      case Values(df, _) if q.projection.isEmpty && df.columns.nonEmpty =>
        Some(df.select(col(df.columns.head).as("n")))
      case n if q.projection.nonEmpty =>
        val res = Translator.translate(quads, n)
        Some(q.projection.map(v => res.df.select(col(v).as("n")))
          .reduce(_ unionByName _).distinct())
      case _ => None // WHERE present but no ?vars listed — constants only
    }
    val constNodes: Option[DataFrame] =
      if (q.describeTerms.isEmpty) None
      else Some(q.describeTerms.map(c => spark.range(1).select(c.as("n")))
        .reduce(_ unionByName _))
    val nodes = (varNodes.toSeq ++ constNodes.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalArgumentException("DESCRIBE names no nodes"))
      .distinct()
    // hint:describeMode — the reference's DescribeModeEnum (CBD default;
    // ForwardOneStep = outgoing statements only; SymmetricOneStep = one
    // step both directions, no blank-node closure)
    q.describeMode match {
      case Some("ForwardOneStep") => QueryForms.describeForward(quads, nodes)
      case Some("SymmetricOneStep") => QueryForms.describe(quads, nodes, maxSteps = 1)
      case Some("CBD") => QueryForms.describeCbd(quads, nodes)
      case Some("SCBD") => QueryForms.describeScbd(quads, nodes)
      case _ => QueryForms.describe(quads, nodes)
    }
    }
  }

  def parse(spark: SparkSession, text: String): Query =
    new P(tokenize(text), spark).query()

  /** Parse with a document base IRI (the W3C TCK supplies each query
    * file's original URL): relative IRIs in the query — and a BASE
    * declaration — resolve RFC 3986-style against it.
    */
  def parse(spark: SparkSession, text: String, base: String): Query =
    new P(tokenize(text), spark, base).query()

  /** When set, NOW() binds this instant instead of the wall clock — replay
    * determinism for tests/pipelines. The per-query-constant contract
    * (SPARQL 17.4.5.1; the reference evaluates Now once per request,
    * FunctionRegistry.java:140-147) holds either way: the instant is
    * captured ONCE at parse time.
    */
  @volatile var fixedNowForReplay: Option[java.time.Instant] = None

  // ---------------- tokenizer ----------------

  private def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = s.length
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) i += 1
      else if (c == '#') { while (i < n && s.charAt(i) != '\n') i += 1 }
      else if (c == '<' && i + 1 < n && s.charAt(i + 1) == '<') {
        // RDF-star quoted-triple delimiters
        out += "<<"; i += 2
      } else if (c == '>' && i + 1 < n && s.charAt(i + 1) == '>') {
        out += ">>"; i += 2
      } else if (c == '<' && i + 1 < n && s.charAt(i + 1) != '=' && !isWs(s.charAt(i + 1))) {
        // IRI ref
        val j = s.indexOf('>', i)
        if (j < 0) throw new IllegalArgumentException(s"unterminated IRI at $i")
        out += s.substring(i, j + 1); i = j + 1
      } else if (c == '"' || c == '\'') {
        // short or long ("""/''') string; decode the full ECHAR+UCHAR set
        // here, then re-escape canonically so the token is always
        // `"<content-without-bare-quotes>"` + suffix (parseLiteral's
        // end-quote scan stays valid for content from long strings)
        val quote = c
        val long = i + 2 < n && s.charAt(i + 1) == quote && s.charAt(i + 2) == quote
        i += (if (long) 3 else 1)
        val body = new StringBuilder
        var closed = false
        while (!closed && i < n) {
          val ch = s.charAt(i)
          if (ch == quote && (!long || (i + 2 < n && s.charAt(i + 1) == quote &&
                                        s.charAt(i + 2) == quote))) {
            closed = true; i += (if (long) 3 else 1)
          } else if (ch == '\\' && i + 1 < n) {
            s.charAt(i + 1) match {
              case 'n' => body.append('\n'); i += 2
              case 't' => body.append('\t'); i += 2
              case 'r' => body.append('\r'); i += 2
              case 'b' => body.append('\b'); i += 2
              case 'f' => body.append('\f'); i += 2
              case '"' => body.append('"'); i += 2
              case '\'' => body.append('\''); i += 2
              case '\\' => body.append('\\'); i += 2
              case 'u' | 'U' =>
                val width = if (s.charAt(i + 1) == 'u') 4 else 8
                require(i + 2 + width <= n, s"truncated unicode escape at $i")
                body.appendAll(Character.toChars(
                  Integer.parseInt(s.substring(i + 2, i + 2 + width), 16)))
                i += 2 + width
              case other => throw new IllegalArgumentException(
                s"illegal string escape '\\$other' at $i")
            }
          } else if (!long && (ch == '\n' || ch == '\r')) {
            throw new IllegalArgumentException(
              s"unescaped newline in short string literal at $i")
          } else { body.append(ch); i += 1 }
        }
        if (!closed) throw new IllegalArgumentException(s"unterminated string at $i")
        val sb = new StringBuilder("\"")
        body.foreach {
          case '\\' => sb.append("\\\\"); case '"' => sb.append("\\\"")
          case '\n' => sb.append("\\n"); case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t"); case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f"); case ch => sb.append(ch)
        }
        sb.append('"')
        // lang tag or datatype suffix
        if (i < n && s.charAt(i) == '@') {
          val st = i; i += 1
          while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-')) i += 1
          sb.append(s.substring(st, i))
        } else if (i + 1 < n && s.charAt(i) == '^' && s.charAt(i + 1) == '^') {
          sb.append("^^"); i += 2
          if (i < n && s.charAt(i) == '<') {
            val j = s.indexOf('>', i); sb.append(s.substring(i, j + 1)); i = j + 1
          } else {
            val st = i
            while (i < n && !isWs(s.charAt(i)) && !"{}(),;.".contains(s.charAt(i))) i += 1
            sb.append(s.substring(st, i))
          }
        }
        out += sb.toString
      } else if (c == '?' || c == '$') {
        val st = i; i += 1
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' ||
               (s.charAt(i) == '\\' && i + 1 < n &&
                (s.charAt(i + 1) == 'u' || s.charAt(i + 1) == 'U')))) i += 1
        if (i == st + 1) { out += "?"; } // bare '?' = path modifier
        else out += "?" + graft.rdf.Iri.decodeUchar(s.substring(st + 1, i))
      } else if (c.isDigit || (c == '.' && i + 1 < n && s.charAt(i + 1).isDigit) ||
                 ((c == '-' || c == '+') && i + 1 < n && s.charAt(i + 1).isDigit)) {
        // '-' glued to a digit lexes as a negative literal ("-5"); the
        // binary-minus reading requires whitespace ("?a - 5"), matching
        // the SPARQL grammar's longest-match tokenization
        val st = i
        if (c == '-' || c == '+') i += 1
        // DECIMAL admits at most one dot; longest match on "1.2." is the
        // token "1.2" followed by a statement-terminator dot. A second
        // dot in the run therefore ends the number.
        var seenDot = false
        while (i < n && (s.charAt(i).isDigit || (s.charAt(i) == '.' && !seenDot))) {
          if (s.charAt(i) == '.') seenDot = true
          i += 1
        }
        // exponent form ("1e0", "1.0E+6") lexes as one double token
        if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E') &&
            (i + 1 < n && (s.charAt(i + 1).isDigit ||
             ((s.charAt(i + 1) == '+' || s.charAt(i + 1) == '-') &&
              i + 2 < n && s.charAt(i + 2).isDigit)))) {
          i += 1
          if (s.charAt(i) == '+' || s.charAt(i) == '-') i += 1
          while (i < n && s.charAt(i).isDigit) i += 1
        }
        // a dot glued after digits stays with the number ("456." is a
        // decimal — DAWG-era DECIMAL allows a bare trailing dot; the
        // separated terminator form is "456 .")
        out += s.substring(st, i)
      } else if ("{}(),;[]".contains(c)) { out += c.toString; i += 1 }
      else if (c == '.') { out += "."; i += 1 }
      else if (c == '|' && i + 1 < n && s.charAt(i + 1) == '|') { out += "||"; i += 2 }
      else if (c == '&' && i + 1 < n && s.charAt(i + 1) == '&') { out += "&&"; i += 2 }
      else if (c == '!' && i + 1 < n && s.charAt(i + 1) == '=') { out += "!="; i += 2 }
      else if (c == '<' && i + 1 < n && s.charAt(i + 1) == '=') { out += "<="; i += 2 }
      else if (c == '>' && i + 1 < n && s.charAt(i + 1) == '=') { out += ">="; i += 2 }
      else if ("=<>!+-*/^|".contains(c)) { out += c.toString; i += 1 }
      else {
        // pname / keyword / 'a'. A '.' continues the token when it sits
        // between name characters of a prefixed name (PN_LOCAL allows
        // interior dots: hint:com.bigdata.x) — a statement-terminator dot
        // is always followed by whitespace or a delimiter.
        val st = i
        var go = true
        while (go && i < n) {
          val ch = s.charAt(i)
          if (!isWs(ch) && !"{}(),;[]=<>!+-*/^|\"'?".contains(ch) && ch != '.') i += 1
          // interior '.' continues a prefixed-name local (PN_LOCAL allows
          // dots: hint:com.bigdata.x); interior '-' continues any name
          // (PN_CHARS includes '-': bsbm-inst). Binary minus needs space.
          else if (ch == '.' && i > st && i + 1 < n &&
                   (s.charAt(i + 1).isLetterOrDigit || s.charAt(i + 1) == '_') &&
                   (s.substring(st, i).contains(':') || {
                     // PN_PREFIX also allows interior dots ("x.y:z"): the
                     // dot continues the token when a ':' is still ahead
                     // within this name run
                     var j = i + 1
                     while (j < n && (s.charAt(j).isLetterOrDigit ||
                            "._-".contains(s.charAt(j)))) j += 1
                     j < n && s.charAt(j) == ':'
                   })) i += 1
          else if (ch == '-' && i > st && i + 1 < n &&
                   (s.charAt(i + 1).isLetterOrDigit || s.charAt(i + 1) == '_')) i += 1
          else go = false
        }
        out += s.substring(st, i)
      }
    }
    out.result()
  }

  // ---------------- parser ----------------

  private class P(toks: Vector[String], spark: SparkSession,
                  initialBase: String = "") {
    private var pos = 0
    private var base: String = initialBase
    private var prefixes = Map.empty[String, String]
    // aggregate registry (GroupByRewriter analogue): structural key -> (var, agg)
    // EXISTS{} operands captured while parsing the current expression
    // (drained by each expression context — FILTER into FilterExists,
    // BIND/SELECT/ORDER BY/GROUP BY/HAVING into ExtendExists/FilterExists)
    private var exprExists = Vector.empty[(String, Node)]
    private var exprExistsCount = 0

    /** Parse an expression and take ownership of any EXISTS{} operand
      * markers it registered — every expression-parsing context must drain
      * its own markers so none leak into an unrelated FilterExists.
      */
    private def drainExists[A](parse: => A): (A, Vector[(String, Node)]) = {
      val before = exprExists.length
      val a = parse
      val taken = exprExists.drop(before)
      exprExists = exprExists.take(before)
      (a, taken)
    }

    /** Extend that binds EXISTS markers first when the expression used any. */
    private def extendWithExists(v: String, e: Expr,
                                 ex: Vector[(String, Node)], n: Node): Node =
      if (ex.isEmpty) Extend(v, e, n) else ExtendExists(v, e, ex, n)
    private var aggs = Vector.empty[(String, AggExpr)]
    private var aggKeys = Map.empty[String, String]
    // pre-group binds for aggregates over expressions (SUM(?a * 2))
    private var preAggBinds = Vector.empty[(String, Expr)]
    // EXISTS{} operands inside aggregate arguments, keyed by the __pa var
    private var preAggExists = Map.empty[String, Vector[(String, Node)]]
    private var bnodeCounter = 0
    // WITH {...} AS %name named subqueries, consumed by INCLUDE %name
    private var namedSubqueries = Map.empty[String, Node]
    // hint:describeMode, captured when hint statements are dropped
    private var describeModeHint: Option[String] = None
    // every hint: statement seen, local-name -> value (scope-insensitive:
    // Query/Group/SubQuery scopes all record; Prior additionally recorded
    // as "runFirst"/"runLast" pass-throughs)
    private var queryHints = Map.empty[String, String]
    // NOW() is constant per query: captured once at parse time
    private lazy val queryNow: java.time.Instant =
      Parser.fixedNowForReplay.getOrElse(java.time.Instant.now())
    // RAND()/UUID() seed: a pure function of the query text, so an
    // identical replay draws the identical stream
    private lazy val querySeed: Long =
      java.util.Arrays.hashCode(toks.mkString(" ").getBytes("UTF-8")).toLong
    // deterministic per-row UUID hex: seeded hash of the row's position
    // (partition-stable; the reference's UUIDBOp draws from an RNG and is
    // not even replay-stable — this is strictly stronger)
    private var uuidCalls = 0
    private def uuidHex(): Column = {
      uuidCalls += 1
      md5(concat(lit(s"$querySeed/$uuidCalls/"),
                 monotonically_increasing_id().cast("string")))
    }

    private def peek: String = if (pos < toks.length) toks(pos) else ""
    private def peekIs(s: String): Boolean = peek.equalsIgnoreCase(s)
    private def next(): String = { val t = peek; pos += 1; t }
    private def expect(s: String): Unit = {
      val t = next()
      require(t.equalsIgnoreCase(s), s"expected '$s' but found '$t' (pos $pos)")
    }

    def query(): Query = {
      while (peekIs("PREFIX") || peekIs("BASE")) {
        // BASE rebinds the base for everything after it (incl. later
        // PREFIX declarations — stripIri resolves against the current base)
        if (peekIs("BASE")) { next(); base = stripIri(next()) }
        else { next(); val p = next(); val iri = stripIri(next()); prefixes += p.dropRight(1) -> iri }
      }
      val q =
        if (peekIs("SELECT")) selectQuery()
        else if (peekIs("ASK")) { next(); if (peekIs("WHERE")) next(); expect("{")
          val n = groupGraphPattern(); expect("}")
          Query(AskForm, n, Nil, distinct = false, Nil) }
        else if (peekIs("CONSTRUCT")) constructQuery()
        else if (peekIs("DESCRIBE")) describeQuery()
        else throw new IllegalArgumentException(s"unsupported query form: $peek")
      // hint:Query hint:optimizer "None" (QueryOptimizerEnum.None): evaluate
      // every BGP in its written order — no static or sampled reordering
      val node =
        if (queryHints.get("optimizer").contains("None"))
          Algebra.transformBgps(q.node)(b => b.copy(fixedOrder = true))
        else q.node
      // every expression context drains its own EXISTS markers; anything
      // left here would have evaluated to an unbound variable — refuse the
      // parse instead of returning a silently-wrong query
      require(exprExists.isEmpty,
        "EXISTS{} appeared in an expression position the engine cannot bind")
      q.copy(node = node, hints = queryHints)
    }

    private def selectQuery(): Query = {
      // aggregates are scoped per SELECT: a sub-SELECT's aggregates must not
      // leak into (or group) the enclosing query
      val (savedAggs, savedKeys, savedPre, savedPreEx) =
        (aggs, aggKeys, preAggBinds, preAggExists)
      aggs = Vector.empty; aggKeys = Map.empty
      preAggBinds = Vector.empty; preAggExists = Map.empty
      try selectQueryInner()
      finally { aggs = savedAggs; aggKeys = savedKeys
                preAggBinds = savedPre; preAggExists = savedPreEx }
    }

    private def selectQueryInner(): Query = {
      expect("SELECT")
      // REDUCED permits (but does not require) duplicate elimination —
      // implementing it as DISTINCT is spec-conformant
      val distinct =
        if (peekIs("DISTINCT") || peekIs("REDUCED")) { next(); true } else false
      var proj = Vector.empty[String]
      var binds = Vector.empty[(String, Expr)]
      // EXISTS{} operands drained from select/group-key expressions, by alias
      var bindExists = Map.empty[String, Vector[(String, Node)]]
      // token span of each select expression, for the 19.8 grouping check
      // (Expr is opaque, so free variables are recovered from the tokens)
      var bindSpans = Vector.empty[(String, Int, Int)]
      var star = false
      while (!peekIs("WHERE") && peek != "{" &&
             !peekIs("FROM") && !peekIs("WITH")) {
        if (peek == "*") { next(); star = true }
        else if (peek.startsWith("?")) proj :+= next().substring(1)
        else if (peek == "(") { // (expr AS ?v)
          next(); val spanStart = pos
          val (e, ex) = drainExists(expression()); val spanEnd = pos
          expect("AS")
          val v = next().substring(1); expect(")")
          require(!proj.contains(v), s"duplicate SELECT alias ?$v")
          proj :+= v; binds :+= (v -> e); bindSpans :+= ((v, spanStart, spanEnd))
          if (ex.nonEmpty) bindExists += v -> ex
        } else throw new IllegalArgumentException(s"bad SELECT item: $peek")
      }
      // dataset clauses (FROM / FROM NAMED) and named subqueries
      // (WITH {...} AS %name — the reference's NamedSubqueryRoot /
      // INCLUDE surface, NamedSubqueryRoot.java)
      var fromDefault = Vector.empty[String]
      var fromNamed = Vector.empty[String]
      var fromVirtualDefault = Vector.empty[String]
      var fromVirtualNamed = Vector.empty[String]
      while (peekIs("FROM") || peekIs("WITH")) {
        if (peekIs("FROM")) {
          next()
          // FROM [NAMED] VIRTUAL GRAPH <vg> — the reference's virtual-graph
          // extension (TestVirtualGraphs.java:80): <vg> names a graph SET
          // declared in the data as `<vg> bd:virtualGraph <member>`
          // statements; members resolve at dataset-construction time
          val named = peekIs("NAMED")
          if (named) next()
          if (peekIs("VIRTUAL")) {
            next(); expect("GRAPH")
            if (named) fromVirtualNamed :+= iriToken()
            else fromVirtualDefault :+= iriToken()
          }
          else if (named) fromNamed :+= iriToken()
          else fromDefault :+= iriToken()
        } else {
          next(); expect("{")
          val sub = if (peekIs("SELECT")) selectQuery().node else groupGraphPattern()
          expect("}"); expect("AS")
          val name = next()
          require(name.startsWith("%"), s"named subquery name must start with %: '$name'")
          namedSubqueries += name -> sub
        }
      }
      if (peekIs("WHERE")) next()
      expect("{")
      // snapshot parser state in case a trailing BINDINGS forces a seeded
      // re-parse of the group (see below)
      val groupStart = pos
      val (snapAggs, snapKeys, snapPre, snapPreEx) =
        (aggs, aggKeys, preAggBinds, preAggExists)
      var node = groupGraphPattern()
      expect("}")
      // query-level trailing VALUES (18.2.4.3): textually after the
      // solution modifiers, but it joins the PATTERN result before them —
      // look ahead for a top-level VALUES, parse it out of order, and have
      // the modifier loop stop at its position.
      // BINDINGS (the SPARQL 1.1 draft spelling the reference retains) has
      // INITIAL-BINDING semantics instead: the solution set feeds INTO the
      // evaluation (it seeds OPTIONAL etc.), so the group re-parses with
      // the values node as its leftmost operand.
      var valuesAt = -1
      var valuesEnd = -1
      locally {
        var i = pos
        var depth = 0
        while (i < toks.length && valuesAt < 0) {
          val t = toks(i)
          if (t == "{" || t == "(") depth += 1
          else if (t == "}" || t == ")") depth -= 1
          else if (depth == 0 && (t.equalsIgnoreCase("VALUES") ||
                                  t.equalsIgnoreCase("BINDINGS"))) valuesAt = i
          i += 1
        }
        if (valuesAt >= 0) {
          val saved = pos
          val isBindings = toks(valuesAt).equalsIgnoreCase("BINDINGS")
          pos = valuesAt
          val vnode = valuesClause()
          valuesEnd = pos
          // BINDINGS always seeds, even across OPTIONAL — deliberately
          // matching the reference, which evaluates BINDINGS as initial
          // bindings and diverges from W3C's join-after semantics there:
          // its own sparql11-bindings-04 golden keeps the seed-merged row
          // an unmatched OPTIONAL produces, and it excludes the W3C
          // federation case that disagrees (service04 commented out at
          // bigdata-sails .../webapp/TestFederatedQuery.java:441-444).
          // Spec-strict final-VALUES behavior remains available as VALUES.
          if (isBindings) {
            aggs = snapAggs; aggKeys = snapKeys
            preAggBinds = snapPre; preAggExists = snapPreEx
            pos = groupStart
            node = groupGraphPattern(Some(vnode))
            expect("}")
          } else node = Join(node, vnode)
          pos = saved
        }
      }
      // GROUP BY / HAVING. A key may be a bare ?var or `( expr AS ?v )`
      // (the expression binds pre-group, like aggregate arguments)
      var groupKeys = Vector.empty[String]
      var groupKeyBinds = Vector.empty[(String, Expr)]
      var having = Vector.empty[(Expr, Vector[(String, Node)])]
      if (peekIs("GROUP")) {
        next(); expect("BY")
        var go = true
        while (go) {
          if (peek.startsWith("?")) groupKeys :+= next().substring(1)
          else if (peek == "(") {
            next(); val (e, ex) = drainExists(expression())
            val v =
              if (peekIs("AS")) { next(); next().substring(1) }
              else s"__gk_${groupKeyBinds.size}"
            expect(")")
            groupKeyBinds :+= (v -> e)
            groupKeys :+= v
            if (ex.nonEmpty) bindExists += v -> ex
          } else go = false
        }
      }
      if (peekIs("HAVING")) {
        next(); expect("(")
        having :+= drainExists(boolExpression())
        expect(")")
      }
      // 19.8 "Grammar" note 14 / SPARQL 1.1 §18.2.4.1: in an aggregate
      // query, only GROUP BY variables (or aliases of group expressions)
      // and aggregate results may appear in the projection. Enforced
      // syntactically (the W3C aggregates/grouping negative-syntax tests:
      // agg08-12, group06/07); a select alias may reference earlier aliases.
      // SELECT * is not allowed with GROUP BY (syn-bad-01)
      require(!(star && groupKeys.nonEmpty), "SELECT * with GROUP BY (19.8)")
      if (!star && (aggs.nonEmpty || groupKeys.nonEmpty)) {
        val bindNames = binds.map(_._1).toSet
        proj.filterNot(bindNames).foreach { v =>
          require(groupKeys.contains(v),
            s"variable ?$v is projected but not grouped (19.8)")
        }
        var defined = groupKeys.toSet
        bindSpans.foreach { case (alias, s0, e0) =>
          var i = s0
          while (i < e0) {
            val t = toks(i)
            if (isAggregate(t) && i + 1 < e0 && toks(i + 1) == "(") {
              // variables inside an aggregate call are always legal:
              // skip the call's balanced parens
              i += 1
              var d = 0
              var done = false
              while (i < e0 && !done) {
                if (toks(i) == "(") d += 1
                else if (toks(i) == ")") { d -= 1; if (d == 0) done = true }
                i += 1
              }
            } else {
              if (t.startsWith("?"))
                require(defined.contains(t.substring(1)),
                  s"variable $t in select expression is not grouped (19.8)")
              i += 1
            }
          }
          defined += alias
        }
      }
      // ORDER BY parses BEFORE the Group node is built: its keys may
      // contain aggregates (ORDER BY DESC(COUNT(?x))), which must register
      // in `aggs` like any other aggregate. The internal-column Extends
      // are applied after grouping below.
      var orderSpecs =
        Vector.empty[(Either[String, (Expr, Vector[(String, Node)])], Boolean)]
      def orderKey(asc: Boolean): Unit = {
        val start = pos
        if (peek.startsWith("?")) {
          val v = next().substring(1)
          // a following operator (or sign-glued numeric, "?o+57") means
          // the var was the head of an arithmetic sort expression
          val signGlued = peek.length > 1 && (peek(0) == '+' || peek(0) == '-') &&
            (peek(1).isDigit || peek(1) == '.')
          // NB: test single-char operators explicitly — `"".contains` of
          // the empty EOF token is true and misparsed a trailing plain
          // key as an expression (leaking an __ord column into SELECT *)
          val isOp = peek == "+" || peek == "-" || peek == "*" || peek == "/"
          if (!isOp && !signGlued) {
            orderSpecs :+= (Left(v) -> asc); return
          }
          pos = start
        }
        orderSpecs :+= (Right(drainExists(expression())) -> asc)
      }
      if (peekIs("ORDER")) {
        next(); expect("BY")
        // a sort key is any BrackettedExpression | Constraint: var, paren
        // group, builtin/custom function call, or constant
        def startsOrderKey(t: String): Boolean =
          t.nonEmpty && !peekIs("LIMIT") && !peekIs("OFFSET") &&
          !peekIs("VALUES") && t != "}" && t != ";" &&
          (t.startsWith("?") || t == "(" || t.startsWith("<") ||
           t.startsWith("\"") || t.head.isDigit || t.head == '+' ||
           t.head == '-' || isFunction(t) || isAggregate(t) ||
           t.contains(':'))
        while (startsOrderKey(peek) || peekIs("ASC") || peekIs("DESC")) {
          if (peekIs("ASC")) { next(); expect("("); orderKey(asc = true); expect(")") }
          else if (peekIs("DESC")) { next(); expect("("); orderKey(asc = false); expect(")") }
          else orderKey(asc = true)
        }
      }
      val grouped = aggs.nonEmpty || groupKeys.nonEmpty
      val ofAlias: String => Vector[(String, Node)] =
        v => bindExists.getOrElse(v, preAggExists.getOrElse(v, Vector.empty))
      if (grouped) {
        // expression-argument aggregates + computed group keys bind their
        // internal vars pre-group
        (preAggBinds ++ groupKeyBinds).foreach { case (v, e) =>
          node = extendWithExists(v, e, ofAlias(v), node) }
        node = Group(groupKeys, aggs, node)
        having.foreach { case (h, ex) =>
          node = if (ex.isEmpty) Filter(h, node) else FilterExists(h, ex, node) }
        // select expressions (which may reference the internal agg vars)
        // become post-group binds
        binds.foreach { case (v, e) =>
          node = extendWithExists(v, e, ofAlias(v), node) }
      } else {
        binds.foreach { case (v, e) =>
          node = extendWithExists(v, e, ofAlias(v), node) }
      }
      // materialize ORDER BY keys: non-trivial expressions bind an
      // internal column over the (possibly grouped) node
      var orderKeys = Vector.empty[(String, Boolean)]
      var ordIvs = Vector.empty[String]
      orderSpecs.zipWithIndex.foreach {
        case ((Left(v), asc), _) => orderKeys :+= (v -> asc)
        case ((Right((e, ex)), asc), i) =>
          val iv = s"__ord_$i"
          node = extendWithExists(iv, e, ex, node)
          ordIvs :+= iv
          orderKeys :+= (iv -> asc)
      }
      if (distinct) {
        // DISTINCT dedups the *projection* but must not destroy ORDER BY's
        // row order (dropDuplicates shuffles), so: project (keeping the
        // internal __ord columns — deterministic functions of the row, they
        // never change the dedup result; SPARQL restricts DISTINCT+ORDER BY
        // keys to projected expressions), dedup, THEN sort, and finally drop
        // the __ord columns with a second projection.
        if (!star && proj.nonEmpty) node = Project(proj ++ ordIvs, node)
        node = Distinct(node)
        if (orderKeys.nonEmpty) node = OrderBy(orderKeys, node)
        if (!star && proj.nonEmpty && ordIvs.nonEmpty) node = Project(proj, node)
      } else {
        // without DISTINCT, ORDER BY may reference non-projected variables,
        // so the sort runs before the projection drops them
        if (orderKeys.nonEmpty) node = OrderBy(orderKeys, node)
        if (!star && proj.nonEmpty) node = Project(proj, node)
      }
      var offset = 0L; var limit = -1L
      while (peekIs("LIMIT") || peekIs("OFFSET")) {
        if (peekIs("LIMIT")) { next(); limit = next().toLong }
        else { next(); offset = next().toLong }
      }
      if (offset != 0 || limit >= 0) {
        // A slice must be deterministic (replay safety; the reference's
        // slices ride its index order): no ORDER BY → sort by the
        // projection; a partial ORDER BY → break ties with the remaining
        // projected vars. Catalyst plans sort+limit as TakeOrderedAndProject.
        if (proj.nonEmpty) {
          val keyed = orderKeys.map(_._1).toSet
          val tiebreak = proj.filterNot(keyed)
          if (orderKeys.isEmpty)
            node = OrderBy(tiebreak.map(_ -> true), node)
          else if (tiebreak.nonEmpty && orderKeys.forall(k => proj.contains(k._1)))
            node = OrderBy(orderKeys ++ tiebreak.map(_ -> true), node)
          // else: internal expression keys were projected away — the
          // explicit ORDER BY already ran, keep its order
        }
        node = Slice(offset, limit, node)
      }
      // the trailing VALUES block was consumed out of order above
      if (valuesAt >= 0) {
        require(pos == valuesAt, s"unexpected tokens before trailing VALUES at $pos")
        pos = valuesEnd
      }
      Query(SelectForm, node, proj, distinct, Nil,
            fromDefault = fromDefault, fromNamed = fromNamed,
            fromVirtualDefault = fromVirtualDefault,
            fromVirtualNamed = fromVirtualNamed)
    }

    private def describeQuery(): Query = {
      expect("DESCRIBE")
      var vars = Vector.empty[String]
      var consts = Vector.empty[org.apache.spark.sql.Column]
      while (!peekIs("WHERE") && peek != "{" && peek.nonEmpty) {
        if (peek.startsWith("?")) vars :+= next().substring(1)
        else consts :+= termConst()
      }
      if (peek == "{" || peekIs("WHERE")) {
        if (peekIs("WHERE")) next()
        expect("{")
        val n = groupGraphPattern()
        expect("}")
        Query(DescribeForm, n, vars, distinct = false, Nil,
              describeTerms = consts, describeMode = describeModeHint)
      } else {
        // constant-only DESCRIBE: node list as an inline VALUES frame
        val df = consts.zipWithIndex
          .map { case (c, i) => spark.range(1).select(c.as("n")) }
          .reduce(_ unionByName _)
        Query(DescribeForm, Values(df, Set("n")), Nil, distinct = false, Nil,
              describeMode = describeModeHint)
      }
    }

    private def constructQuery(): Query = {
      expect("CONSTRUCT")
      // SPARQL 1.1 shorthand: CONSTRUCT [dataset clauses] WHERE { tps } —
      // the pattern IS the template (must be a plain BGP per the grammar)
      if (peekIs("WHERE") || peekIs("FROM")) {
        var fd = Vector.empty[String]; var fn = Vector.empty[String]
        while (peekIs("FROM")) {
          next()
          if (peekIs("NAMED")) { next(); fn :+= iriToken() }
          else fd :+= iriToken()
        }
        expect("WHERE"); expect("{")
        val node = groupGraphPattern()
        expect("}")
        val tmpl = collectBgp(node).map { tp =>
          def pos(p0: Pat): QueryForms.TPos = p0 match {
            case V(n) => QueryForms.TVar(n)
            case C(t) => QueryForms.TConst(t)
          }
          (pos(tp.s), pos(tp.p), pos(tp.o))
        }
        return Query(ConstructForm, node, Nil, distinct = false, tmpl,
                     fromDefault = fd, fromNamed = fn)
      }
      expect("{")
      var tmpl = Vector.empty[(QueryForms.TPos, QueryForms.TPos, QueryForms.TPos)]
      var tmplGraphs = Vector.empty[Option[QueryForms.TPos]]
      // current GRAPH block scope — the reference's quads-template
      // extension (CONSTRUCT { GRAPH ?g { ... } }, used by its govtrack
      // CI CONSTRUCT queries)
      var curGraph: Option[QueryForms.TPos] = None
      var tmplBnodeCounter = 0
      // template triples with ';'/',' abbreviations and bracketed
      // blank-node property lists ([ p o ; ... ] — fresh per solution)
      def templateNode(): QueryForms.TPos =
        if (peek == "[") {
          next()
          tmplBnodeCounter += 1
          val bn = QueryForms.TBnode(s"tmpl$tmplBnodeCounter")
          if (peek != "]") propertyList(bn)
          expect("]")
          bn
        } else templatePos()
      def propertyList(subj: QueryForms.TPos): Unit = {
        var go = true
        while (go) {
          val p = templatePos()
          var more = true
          while (more) {
            val o = templateNode()
            tmpl :+= ((subj, p, o))
            tmplGraphs :+= curGraph
            if (peek == ",") next() else more = false
          }
          if (peek == ";") { next(); if (peek == "." || peek == "}" || peek == "]") go = false }
          else go = false
        }
      }
      def templateBlock(): Unit =
        while (peek != "}") {
          if (peekIs("GRAPH") && curGraph.isEmpty) {
            next()
            curGraph = Some(templatePos())
            expect("{")
            templateBlock()
            expect("}")
            curGraph = None
            if (peek == ".") next()
          } else {
            val s = templateNode()
            if (peek != "." && peek != "}") propertyList(s)
            if (peek == ".") next()
          }
        }
      templateBlock()
      expect("}")
      var fd = Vector.empty[String]; var fn = Vector.empty[String]
      while (peekIs("FROM")) {
        next()
        if (peekIs("NAMED")) { next(); fn :+= iriToken() }
        else fd :+= iriToken()
      }
      if (peekIs("WHERE")) next()
      expect("{")
      val node = groupGraphPattern()
      expect("}")
      Query(ConstructForm, node, Nil, distinct = false, tmpl, tmplGraphs,
            fromDefault = fd, fromNamed = fn)
    }

    private def templatePos(): QueryForms.TPos = {
      val t = peek
      if (t.startsWith("?")) { next(); QueryForms.TVar(t.substring(1)) }
      else if (t.startsWith("_:")) { next(); QueryForms.TBnode(t.substring(2)) }
      else QueryForms.TConst(termConst())
    }

    // GroupGraphPattern := sequence of triples blocks / keyword clauses
    private def groupGraphPattern(init: Option[Node] = None): Node = {
      val (node, filters) = groupGraphPatternParts(init)
      // filters are boolean-valued Exprs (see PExpr)
      filters.foldLeft(node)((n, f) => Filter(f, n))
    }

    /** Parse a group, returning the node with top-level plain FILTERs
      * *unapplied* (the OPTIONAL branch needs them as the LeftJoin
      * condition: per the W3C algebra translation, a filter directly inside
      * an OPTIONAL group joins the LeftJoin expression and is evaluated
      * over the merged solution — wrapping it inside the right operand
      * would see outer variables as unbound).
      */
    private def groupGraphPatternParts(init: Option[Node] = None): (Node, Seq[Expr]) = {
      val (node, filters, existsFilters, existsCondFilters) =
        groupGraphPatternFull(init)
      var n = node
      existsFilters.foreach { case (sub, neg) => n = ExistsFilter(n, sub, neg) }
      existsCondFilters.foreach { case (f, binds) => n = FilterExists(f, binds, n) }
      (n, filters)
    }

    /** Workhorse group parse: EXISTS/NOT EXISTS filters are returned
      * UNAPPLIED alongside the node, because the OPTIONAL branch must hoist
      * those that reference left-side variables into the LeftJoin
      * condition (same W3C scoping rule as for plain filters).
      */
    private def groupGraphPatternFull(init: Option[Node] = None)
        : (Node, Seq[Expr], Vector[(Node, Boolean)],
           Vector[(Expr, Vector[(String, Node)])]) = {
      // GroupGraphPattern := '{' ( SubSelect | GroupGraphPatternSub ) '}':
      // a group whose content starts with SELECT is directly a sub-select
      if (peekIs("SELECT")) {
        val sub = selectQuery().node
        return (init.fold(sub)(i => Join(i, sub)), Vector.empty,
                Vector.empty, Vector.empty)
      }
      bnodeScope += 1
      var cur: Option[Node] = init
      var filters = Vector.empty[Expr]
      var existsFilters = Vector.empty[(Node, Boolean)]
      var existsCondFilters = Vector.empty[(Expr, Vector[(String, Node)])]
      // Adjacent triples blocks in one group are ONE basic graph pattern
      // (SPARQL 1.1 §18.2.2.6 collects consecutive TriplesBlocks into a
      // single BGP) — merge them instead of nesting Joins. Semantics are
      // identical (BGP join = inner join, and Join is associative), but
      // this is what gives join-order optimization its real scope: without
      // it, dot-separated statements with different subjects would always
      // join in written order, one subject-block at a time. Non-BGP nodes
      // (OPTIONAL/MINUS/paths/services) break the adjacency as usual.
      def add(n: Node): Unit = {
        def merge(c: Node): Node = (c, n) match {
          case (Bgp(l, f), Bgp(r, _)) => Bgp(l ++ r, f)
          case (Join(a, Bgp(l, f)), Bgp(r, _)) => Join(a, Bgp(l ++ r, f))
          case _ => Join(c, n)
        }
        cur = Some(cur.fold(n)(merge))
      }
      // grammar: GGP-sub = TriplesBlock? (GraphPatternNotTriples '.'?
      // TriplesBlock?)* — one optional '.' after a keyword construct;
      // adjacent triples blocks REQUIRE the separating '.' (syn-bad-02/03),
      // and '.' never stands alone (syn-bad-05..13)
      var allowBareDot = false
      var needDotBeforeTriples = false
      while (peek != "}" && peek.nonEmpty) {
        val tokenAtStart = peek
        if (tokenAtStart != ".") allowBareDot = false
        if (peekIs("OPTIONAL")) {
          next(); expect("{")
          val (r, rFilters, rExists, rExistsCond) = groupGraphPatternFull()
          expect("}")
          // 18.2 scoping: a FILTER in the optional group — including its
          // EXISTS parts — evaluates over merge(left row, right row). An
          // EXISTS subpattern mentioning a variable bound ONLY on the left
          // must therefore hoist into the LeftJoin condition (as a marker
          // bind over the merged candidates); inner-scoped EXISTS stays in
          // the right operand where the plan is a plain semi/anti join.
          val rScope = Algebra.inScopeVars(r)
          val outerScope = cur.map(Algebra.inScopeVars).getOrElse(Set.empty)
          def refsOuter(sub: Node): Boolean =
            (Algebra.inScopeVars(sub) -- rScope).intersect(outerScope).nonEmpty
          val (hoistEx, keepEx) = rExists.partition { case (sub, _) => refsOuter(sub) }
          val (hoistCond, keepCond) = rExistsCond.partition {
            case (_, binds) => binds.exists { case (_, sub) => refsOuter(sub) } }
          var rNode = r
          keepEx.foreach { case (sub, neg) => rNode = ExistsFilter(rNode, sub, neg) }
          keepCond.foreach { case (f, binds) => rNode = FilterExists(f, binds, rNode) }
          var joinBinds = Vector.empty[(String, Node)]
          var conds: Vector[Expr] = rFilters.toVector
          hoistEx.foreach { case (sub, neg) =>
            val mv = s"__ex_${exprExistsCount}"; exprExistsCount += 1
            joinBinds :+= (mv -> sub)
            conds :+= ((res: String => Column) =>
              if (neg) !res(mv).cast(org.apache.spark.sql.types.BooleanType)
              else res(mv).cast(org.apache.spark.sql.types.BooleanType))
          }
          hoistCond.foreach { case (f, binds) => joinBinds ++= binds; conds :+= f }
          val cond: Option[Expr] =
            if (conds.isEmpty) None
            else Some(r2 => conds.map(_(r2)).reduce(_ && _))
          cur = Some(LeftJoin(cur.getOrElse(emptyNode), rNode, cond, joinBinds))
        } else if (peekIs("MINUS")) {
          next(); expect("{")
          val r = groupGraphPattern(); expect("}")
          cur = Some(Minus(cur.getOrElse(emptyNode), r))
        } else if (peekIs("FILTER")) {
          next()
          // EXISTS may appear bare (FILTER EXISTS {...}) or parenthesized
          // (FILTER ( EXISTS {...} )) — both are the grammar's BrackettedExpression
          val paren = if (peek == "(" &&
            (toks.lift(pos + 1).exists(_.equalsIgnoreCase("EXISTS")) ||
             (toks.lift(pos + 1).exists(_.equalsIgnoreCase("NOT")) &&
              toks.lift(pos + 2).exists(_.equalsIgnoreCase("EXISTS")))))
            { next(); true } else false
          // lookahead: does the parenthesized constraint close right after
          // the EXISTS group (the plain semi/anti-join form), or is EXISTS
          // an operand of a larger expression (the marker-variable form)?
          def closesAfterGroup: Boolean = {
            var i = pos + (if (toks.lift(pos).exists(_.equalsIgnoreCase("NOT"))) 2 else 1)
            if (!toks.lift(i).contains("{")) return false
            var d = 0
            while (i < toks.length && (d > 0 || toks(i) == "{")) {
              if (toks(i) == "{") d += 1 else if (toks(i) == "}") d -= 1
              i += 1
            }
            toks.lift(i).contains(")")
          }
          if (peekIs("EXISTS") && (!paren || closesAfterGroup)) {
            next(); expect("{"); val sub = groupGraphPattern(); expect("}")
            if (paren) expect(")")
            existsFilters :+= (sub -> false) }
          else if (peekIs("NOT") && (!paren || closesAfterGroup)) {
            next(); expect("EXISTS"); expect("{")
            val sub = groupGraphPattern(); expect("}")
            if (paren) expect(")")
            existsFilters :+= (sub -> true) }
          else if (peek == "(" || paren) {
            if (!paren) next()
            val before = exprExists.length
            val f = boolExpression(); expect(")")
            val taken = exprExists.drop(before)
            exprExists = exprExists.take(before)
            if (taken.isEmpty) filters :+= f
            else existsCondFilters :+= (f -> taken)
          }
          // FILTER Constraint ::= BrackettedExpression | BuiltInCall |
          // FunctionCall — a bare variable/term is a syntax error
          // (syn-bad-filter-missing-parens)
          else {
            require(isFunction(peek) ||
                    (iriFnTarget(peek).isDefined &&
                     toks.lift(pos + 1).contains("(")),
              s"FILTER needs a bracketted expression or function call, got '$peek'")
            filters :+= boolExpression()
          }
        } else if (peekIs("INCLUDE")) {
          // INCLUDE %name joins the named subquery's solution set
          // (reference: NamedSubqueryInclude → SolutionSetHashJoinOp).
          // Falls back to the durable solution-set registry — the
          // ISolutionSetManager surface (TestInclude.java:140) — joined
          // like an inline VALUES block.
          next()
          val name = next()
          add(namedSubqueries.getOrElse(name,
            SolutionSets.get(name).map(df => Values(df, Set.empty))
              .getOrElse(throw new IllegalArgumentException(
                s"unknown named subquery or solution set '$name'"))))
        } else if (peekIs("BIND")) {
          next(); expect("(")
          // BIND( <<s p o>> AS ?sid ) — the RDR surface: the quoted
          // pattern IS a SidPattern binding ?sid directly
          if (peek == "<<") {
            next()
            val s = varOrTerm()
            val p = if (peek.startsWith("?")) V(next().substring(1)) else C(termConst())
            val o = varOrTerm()
            expect(">>"); expect("AS")
            val v = next().substring(1); expect(")")
            add(SidPattern(s, p, o, v))
          } else {
            val (e, ex) = drainExists(expression())
            expect("AS"); val v = next().substring(1); expect(")")
            cur = Some(extendWithExists(v, e, ex, cur.getOrElse(emptyNode)))
          }
        } else if (peekIs("LET")) {
          // bigdata extension: LET ( ?v := expr ) ≡ BIND(expr AS ?v)
          // (BigdataExprBuilder LET handling)
          next(); expect("(")
          val v = next().substring(1)
          expect(":"); expect("=")
          val (e, ex) = drainExists(expression()); expect(")")
          cur = Some(extendWithExists(v, e, ex, cur.getOrElse(emptyNode)))
        } else if (peekIs("VALUES") || peekIs("BINDINGS")) {
          add(valuesClause())
        } else if (peekIs("GRAPH")) {
          next()
          val g = if (peek.startsWith("?")) V(next().substring(1)) else C(termConst())
          expect("{"); val sub = groupGraphPattern(); expect("}")
          add(GraphNode(g, sub))
        } else if (peekIs("SERVICE")) {
          next()
          // SERVICE SILENT <iri>: endpoint failure yields one empty
          // solution instead of a query error (SPARQL 1.1 Federation §4)
          val silent = peekIs("SILENT")
          if (silent) next()
          // SERVICE ?v: endpoint chosen by runtime bindings of ?v
          if (peek.startsWith("?")) {
            val v = next().substring(1)
            expect("{")
            val startTok = pos
            groupGraphPattern()
            val endTok = pos
            expect("}")
            val decls = prefixes.map { case (p, ns) => s"PREFIX $p: <$ns>" }
              .mkString(" ")
            add(ServiceVarNode(v,
              s"$decls SELECT * WHERE { ${toks.slice(startTok, endTok).mkString(" ")} }",
              silent))
            // continue the surrounding group loop
          } else {
          val iri = iriToken()
          expect("{")
          val startTok = pos
          val sub = groupGraphPattern()
          val endTok = pos
          expect("}")
          // SERVICE bd:search { ... } is the explicit form of the magic-
          // predicate surface — route it to the internal search service
          // (the config predicates were already normalized in triplesBlock)
          val isSearch = iri.startsWith(BdsNs.stripSuffix("#")) ||
                         iri == Services.SearchIri
          // search (and other internal) services need the config BGP and a
          // non-BGP group is a user error — keep that loud. Remote
          // endpoints evaluate the shipped text, and their groups may
          // legally contain OPTIONAL/FILTER/nested SERVICE — collect
          // best-effort there only.
          val config =
            if (isSearch || Services.isRegistered(iri)) collectBgp(sub)
            else scala.util.Try(collectBgp(sub)).getOrElse(Nil)
          // for http(s) endpoints, ship the group verbatim (tokens joined —
          // literals/IRIs are single tokens) with the prefixes in scope
          val remote =
            if (!isSearch && (iri.startsWith("http://") || iri.startsWith("https://"))) {
              val decls = prefixes.map { case (p, ns) => s"PREFIX $p: <$ns>" }
                .mkString(" ")
              Some(s"$decls SELECT * WHERE { ${toks.slice(startTok, endTok).mkString(" ")} }")
            } else None
          add(ServiceNode(if (isSearch) Services.SearchIri else iri, config,
                          remote, silent))
          }
        } else if (peek == "{") {
          // group or union chain or sub-select
          next()
          val first =
            if (peekIs("SELECT")) { val q = selectQuery(); q.node }
            else groupGraphPattern()
          expect("}")
          var u = first
          while (peekIs("UNION")) {
            next(); expect("{")
            val r = if (peekIs("SELECT")) selectQuery().node else groupGraphPattern()
            expect("}")
            u = Union(u, r)
          }
          add(u)
        } else if (peek == ".") {
          require(allowBareDot, "stray '.' in group graph pattern")
          next(); allowBareDot = false; needDotBeforeTriples = false
        } else {
          require(!needDotBeforeTriples,
            "missing '.' between triples blocks")
          triplesBlock().foreach(add)
          needDotBeforeTriples = !lastTriplesConsumedDot
        }
        if (tokenAtStart != "." && peek2KeywordClosed(tokenAtStart)) {
          // a keyword construct just closed: one '.' may follow, a
          // following triples block needs no separator, and (except after
          // FILTER, which does NOT end the BGP — syn-11) any following
          // blank-node label is a NEW basic graph pattern (syn-bad-37)
          allowBareDot = true; needDotBeforeTriples = false
          if (!tokenAtStart.equalsIgnoreCase("FILTER")) bnodeScope += 1
        }
      }
      var node = cur.getOrElse(emptyNode)
      node = mergeMagicSearch(node)
      (node, filters, existsFilters, existsCondFilters)
    }

    /** Each statement with magic search predicates produced its own
      * ServiceNode fragment (one per triples block); a search needs its
      * whole config (#query + bound vars), so merge the group's fragments
      * into ONE service call joined after the ordinary patterns.
      */
    private def mergeMagicSearch(n0: Node): Node = {
      var magicAcc = Vector.empty[TriplePattern]
      def strip(n: Node): Option[Node] = n match {
        case ServiceNode(Services.SearchIri, tps, _, _) =>
          magicAcc ++= tps; None
        case Join(l, r) => (strip(l), strip(r)) match {
          case (Some(a), Some(b)) => Some(Join(a, b))
          case (a, b) => a.orElse(b)
        }
        case other => Some(other)
      }
      val stripped = strip(n0)
      if (magicAcc.isEmpty) n0
      else {
        val svc = ServiceNode(Services.SearchIri, magicAcc)
        stripped.map(s => Join(s, svc)).getOrElse(svc)
      }
    }

    /** Flatten a parsed group into its triple patterns (SERVICE config).
      * Magic search predicates inside an explicit SERVICE group re-wrap as
      * a nested ServiceNode — unwrap them back to their triples.
      */
    private def collectBgp(n: Node): Seq[TriplePattern] = n match {
      case Bgp(tps, _) => tps
      case ServiceNode(Services.SearchIri, tps, _, _) => tps
      case Join(l, r) => collectBgp(l) ++ collectBgp(r)
      case other => throw new IllegalArgumentException(
        s"SERVICE group must be a plain BGP, found: ${other.getClass.getSimpleName}")
    }

    private def emptyNode: Node = {
      // empty group: single empty solution — a 1-row DataFrame, no columns
      Values(spark.range(1).toDF("__unit").drop("__unit"), Set.empty)
    }

    private def valuesClause(): Node = {
      // VALUES, or its SPARQL 1.1 working-draft spelling BINDINGS (the
      // reference grammar accepts both; BINDINGS lists vars without parens)
      val kw = next()
      require(kw.equalsIgnoreCase("VALUES") || kw.equalsIgnoreCase("BINDINGS"),
        s"expected VALUES/BINDINGS, found '$kw'")
      var vars = Vector.empty[String]
      if (peek == "(") { next(); while (peek != ")") vars :+= next().substring(1); next() }
      else while (peek.startsWith("?")) vars :+= next().substring(1)
      expect("{")
      var rows = Vector.empty[Seq[Option[Column]]]
      while (peek != "}") {
        if (peek == "(") {
          next()
          var row = Vector.empty[Option[Column]]
          while (peek != ")") row :+= valuesTerm()
          next()
          rows :+= row
        } else rows :+= Vector(valuesTerm())
      }
      expect("}")
      // build the inline DataFrame: one row per VALUES row. No rows:
      // no vars = the unit solution (join identity, `BINDINGS { }`);
      // with vars = zero solutions over them.
      val df =
        if (rows.isEmpty) {
          val base = spark.range(if (vars.isEmpty) 1 else 0)
          vars.foldLeft(base.toDF())((d, v) => d.withColumn(v, Term.unbound))
            .select(vars.map(col): _*)
        } else rows.zipWithIndex.map { case (row, idx) =>
          val base = spark.range(1).toDF(s"__v$idx")
          vars.zip(row).foldLeft(base) { case (d, (v, t)) =>
            d.withColumn(v, t.getOrElse(Term.unbound))
          }.select(vars.map(col): _*)
        }.reduce(_ unionByName _)
      Values(df, Set.empty /* UNDEF possible: all maybe */)
    }

    private def valuesTerm(): Option[Column] =
      if (peekIs("UNDEF")) { next(); None } else Some(termConst())

    // TriplesBlock: s p o (',' o)* (';' p o ...)* '.'
    // None when the block held only query-hint statements.
    // did the group element that started with this token come from a
    // GraphPatternNotTriples (keyword construct / nested group)?
    private def peek2KeywordClosed(t: String): Boolean =
      Seq("OPTIONAL", "MINUS", "FILTER", "BIND", "LET", "VALUES", "BINDINGS",
          "GRAPH", "SERVICE", "INCLUDE").exists(t.equalsIgnoreCase) || t == "{"

    // can this token start a verb (predicate or path)? keywords like
    // OPTIONAL/FILTER after a trailing ';' cannot — they end the list
    private def canStartVerb(t: String): Boolean =
      t.startsWith("?") || t.startsWith("<") || t == "(" || t == "^" ||
      t == "!" || t.equalsIgnoreCase("a") ||
      (t.contains(':') && !t.startsWith("\""))

    private def triplesBlock(): Option[Node] = {
      var tps = Vector.empty[TriplePattern]
      var magic = Vector.empty[TriplePattern]
      var paths = Vector.empty[(Pat, Path, Pat)]
      val sTok = peek
      val s = varOrTerm()
      // a collection/bnode TriplesNode subject may stand alone, its
      // triples coming entirely from the bracketed form — but bare
      // ANON/nil ("[]"/"()") has none and REQUIRES a property list
      var done = (sTok == "[" || sTok == "(") && !canStartVerb(peek)
      if (done) require(lastWasTriplesNode,
        "bare [] / () subject needs a property list")
      while (!done) {
        val (isPath, linkOrPath) = pathExpr()
        var more = true
        while (more) {
          val rawObj = peek
          val o = varOrTerm()
          linkOrPath match {
            case Left((p, iriOpt)) =>
              // magic predicates (the reference's bds:search surface,
              // BDS.java:94) route to the search service instead of the BGP
              if (iriOpt.exists(i => i.startsWith(Services.SearchIri + "#") ||
                                     i.startsWith(BdsNs))) {
                // normalize the reference's bds: namespace (BDS.java:94 —
                // bds:search is the query predicate) onto the internal
                // service's config vocabulary (graft://search#query etc.)
                val i = iriOpt.get
                val local0 = i.substring(i.indexOf('#') + 1)
                val local = if (local0 == "search") "query" else local0
                magic :+= TriplePattern(
                  s, C(graft.rdf.Term.iri(Services.SearchIri + "#" + local)), o)
              }
              // query-hint statements (hint:Query hint:x val — QueryHints
              // .java:74) are planner directives, not data patterns: record
              // them on the Query (scope from the subject — hint:Query /
              // hint:Group / hint:SubQuery / hint:Prior, ASTQueryHintOptimizer
              // .java:180 scoping) and drop them from the pattern. optimizer
              // and describeMode get plan/result effect; the rest pass
              // through to EXPLAIN.
              else if (iriOpt.exists(_.startsWith(HintNs))) {
                val name = iriOpt.get.substring(HintNs.length)
                val value =
                  if (rawObj.startsWith("\"")) rawObj.substring(1, rawObj.lastIndexOf('"'))
                  else rawObj
                if (name == "describeMode" && rawObj.startsWith("\""))
                  describeModeHint = Some(value)
                queryHints += name -> value
              }
              else tps :+= TriplePattern(s, p, o)
            case Right(p) => paths :+= ((s, p, o))
          }
          if (peek == ",") next() else more = false
        }
        if (peek == ";") { next(); if (!canStartVerb(peek)) done = true }
        else done = true
      }
      lastTriplesConsumedDot = peek == "."
      if (peek == ".") next()
      // patterns contributed by bracketed blank-node property lists
      tps ++= pendingBnodeTps; pendingBnodeTps = Vector.empty
      paths ++= pendingBnodePaths; pendingBnodePaths = Vector.empty
      val bgp: Option[Node] = if (tps.nonEmpty) Some(Bgp(tps)) else None
      val pathNodes = paths.map { case (a, p, b) => PathPattern(a, p, b): Node }
      val svc: Option[Node] =
        if (magic.nonEmpty) Some(ServiceNode(Services.SearchIri, magic)) else None
      val sidNodes = pendingSids.map(n => n: Node)
      pendingSids = Vector.empty
      val parts = bgp.toSeq ++ pathNodes ++ svc.toSeq ++ sidNodes
      // a block that was ONLY query hints contributes nothing
      if (parts.isEmpty) None
      else Some(parts.reduce((l, r) => Join(l, r)))
    }

    /** Returns Left(predicate Pat, constant IRI if known) for a plain
      * predicate (var or iri) or Right(Path) for a path expression.
      */
    private def pathExpr(): (Boolean, Either[(Pat, Option[String]), Path]) = {
      if (peek.startsWith("?")) return (false, Left((V(next().substring(1)), None)))
      val p = pathAlt()
      p match {
        case Link(iri) if !pathModified => (false, Left((C(Term.iri(iri)), Some(iri))))
        case other => (true, Right(other))
      }
    }

    private var pathModified = false
    // did the last triplesBlock consume its terminating '.'?
    private var lastTriplesConsumedDot = false

    private def pathAlt(): Path = {
      var a = pathSeq()
      while (peek == "|") { next(); pathModified = true; a = Alt(a, pathSeq()) }
      a
    }

    private def pathSeq(): Path = {
      var a = pathElt()
      while (peek == "/") { next(); pathModified = true; a = PSeq(a, pathElt()) }
      a
    }

    private def pathElt(): Path = {
      pathModified = false
      var inv = false
      if (peek == "^") { next(); inv = true; pathModified = true }
      var base: Path =
        if (peek == "(") { next(); pathModified = true; val p = pathAlt(); expect(")"); p }
        else if (peek == "!") {
          next(); pathModified = true
          expect("(")
          var iris = Vector.empty[String]
          iris :+= iriToken()
          while (peek == "|") { next(); iris :+= iriToken() }
          expect(")")
          NegatedSet(iris)
        } else Link(iriToken())
      if (peek == "*") { next(); pathModified = true; base = ZeroOrMore(base) }
      else if (peek == "+") { next(); pathModified = true; base = OneOrMore(base) }
      else if (peek == "?") { next(); pathModified = true; base = ZeroOrOne(base) }
      else if (peek == "{") {
        // path{n}, path{n,m}, path{n,}, path{,m} — the 2011 draft's bounded
        // quantifiers (kept by Sesame and the reference; dropped from the
        // final REC). Desugared onto the core combinators.
        next(); pathModified = true
        val lo = if (peek == ",") 0 else next().toInt
        val hi: Option[Int] =
          if (peek == ",") { next(); if (peek == "}") None else Some(next().toInt) }
          else Some(lo)
        expect("}")
        def seqN(k: Int): Path = (1 until k).foldLeft(base)((a, _) => PSeq(a, base))
        // bounded forms desugar to a BAG union of fixed-length sequences
        // (counting semantics for the fixed part — W3C pp26); only the
        // unbounded tail is a set-based closure
        base = (lo, hi) match {
          case (0, None) => ZeroOrMore(base)
          // {1,} IS the + closure (duplicate-free, pp04); longer minimums
          // prepend a fixed prefix to it
          case (1, None) => OneOrMore(base)
          case (n, None) => PSeq(seqN(n - 1), OneOrMore(base))
          case (0, Some(0)) => ZeroLength(base)
          case (0, Some(m)) =>
            (1 to m).map(seqN).foldLeft(ZeroLength(base): Path)(Alt(_, _))
          case (n, Some(m)) =>
            require(m >= n, s"bad path quantifier {$n,$m}")
            (n + 1 to m).map(seqN).foldLeft(seqN(n))(Alt(_, _))
        }
      }
      if (inv) Inv(base) else base
    }

    private def iriToken(): String = {
      val t = next()
      if (t.equalsIgnoreCase("a")) RdfTypeIri
      else if (t.startsWith("<")) stripIri(t)
      else expandPname(t)
    }

    // was the last varOrTerm a TriplesNode with content ([ p o ] or a
    // non-empty collection)? Only those may stand without a property list
    private var lastWasTriplesNode = false

    private def varOrTerm(): Pat = {
      lastWasTriplesNode = false
      if (peek == "<<") quotedTriple()
      else if (peek == "[") {
        next()
        val hasProps = peek != "]"
        val p = anonBnodePattern()
        // set AFTER the recursive parse (nested varOrTerm calls reset it)
        lastWasTriplesNode = hasProps
        p
      }
      else if (peek == "(") {
        val wasNil = toks.lift(pos + 1).contains(")")
        val p = collectionPattern()
        lastWasTriplesNode = !wasNil
        p
      }
      else if (peek.startsWith("?")) V(next().substring(1))
      // a blank node in a query pattern is an existential = a fresh
      // non-projectable variable, NOT a constant term (SPARQL §4.1.4) —
      // but a LABEL may not recur across BGP boundaries (syn-bad-34..38)
      else if (peek.startsWith("_:")) {
        val t = next()
        val label = t.substring(2)
        bnodeLabelScopes.get(label) match {
          case Some(sc) if sc != bnodeScope =>
            throw new IllegalArgumentException(
              s"blank node label _:$label reused across basic graph patterns")
          case _ => bnodeLabelScopes += label -> bnodeScope
        }
        V("__bn_" + label)
      }
      else C(termConst())
    }

    // BGP adjacency scope for blank-node labels: bumped at every
    // GraphPatternNotTriples boundary and nested group
    private var bnodeScope = 0
    private var bnodeLabelScopes = Map.empty[String, Int]

    // `[]` / `[ p o ; ... ]` in a pattern: a fresh existential variable;
    // the bracketed property list contributes patterns to the enclosing
    // triples block (collected like SID patterns)
    private var anonCounter = 0
    private var pendingBnodeTps = Vector.empty[TriplePattern]
    private var pendingBnodePaths = Vector.empty[(Pat, Path, Pat)]
    private def anonBnodePattern(): Pat = {
      anonCounter += 1
      val v = V(s"__anon_$anonCounter")
      var go = peek != "]"
      while (go) {
        val (_, linkOrPath) = pathExpr()
        var more = true
        while (more) {
          val o = varOrTerm()
          linkOrPath match {
            case Left((p, _)) => pendingBnodeTps :+= TriplePattern(v, p, o)
            case Right(path) => pendingBnodePaths :+= ((v: Pat, path, o))
          }
          if (peek == ",") next() else more = false
        }
        if (peek == ";") { next(); if (peek == "]") go = false } else go = false
      }
      expect("]")
      v
    }

    // RDF collection `( e1 e2 ... )` in a term position: rdf:first/rdf:rest
    // chains over fresh existential variables (SPARQL §4.2.2 collections
    // desugar exactly like Turtle's); `()` is rdf:nil
    private def collectionPattern(): Pat = {
      expect("(")
      val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      if (peek == ")") { next(); return C(Term.iri(RdfNs + "nil")) }
      var elems = Vector.empty[Pat]
      while (peek != ")") elems :+= varOrTerm()
      expect(")")
      val cells = elems.map { _ =>
        anonCounter += 1; V(s"__coll_$anonCounter")
      }
      cells.lazyZip(elems).lazyZip(
        cells.drop(1) :+ C(Term.iri(RdfNs + "nil"))).foreach { (cell, elem, rest) =>
        pendingBnodeTps :+= TriplePattern(cell, C(Term.iri(RdfNs + "first")), elem)
        pendingBnodeTps :+= TriplePattern(cell, C(Term.iri(RdfNs + "rest")), rest)
      }
      cells.head
    }

    // RDF-star: `<< s p o >>` in a subject/object position matches the
    // asserted statement and stands for its SID (the reference's
    // statement-identifiers mode). The pattern itself joins the block.
    private var sidCounter = 0
    private var pendingSids = Vector.empty[SidPattern]
    private def quotedTriple(): Pat = {
      expect("<<")
      val s = varOrTerm()
      val p = if (peek.startsWith("?")) V(next().substring(1)) else C(termConst())
      val o = varOrTerm()
      expect(">>")
      sidCounter += 1
      val sv = s"__sid_$sidCounter"
      pendingSids :+= SidPattern(s, p, o, sv)
      V(sv)
    }

    private def termConst(): Column = {
      val t = next()
      if (t.startsWith("<")) Term.iri(stripIri(t))
      else if (t.startsWith("\"")) parseLiteral(t)
      else if (t.equalsIgnoreCase("a")) Term.iri(RdfTypeIri)
      else if (t.equalsIgnoreCase("true")) Term.bool(lit(true))
      else if (t.equalsIgnoreCase("false")) Term.bool(lit(false))
      else if (t.headOption.exists(c => c.isDigit || c == '-' || c == '+' || c == '.') &&
               t.exists(_.isDigit) &&
               t.forall(c => c.isDigit || "+-.eE".contains(c))) {
        val lexNorm = t.stripPrefix("+").stripSuffix(".")
        if (t.exists(c => c == 'e' || c == 'E'))
          Term.num(lit(new java.math.BigDecimal(lexNorm)), Term.XsdDouble)
        else if (t.contains('.'))
          Term.num(lit(new java.math.BigDecimal(lexNorm)), Term.XsdDecimal)
        else Term.num(lit(lexNorm.toLong), Term.XsdInteger)
      }
      else Term.iri(expandPname(t))
    }

    private def parseLiteral(t: String): Column = {
      val endQ = t.lastIndexOf('"')
      val lex = unescape(t.substring(1, endQ))
      val rest = t.substring(endQ + 1)
      if (rest.startsWith("@")) Term.langStr(lit(lex), lit(rest.substring(1)))
      else if (rest.startsWith("^^")) {
        val dt = if (rest.charAt(2) == '<') rest.substring(3, rest.length - 1)
                 else expandPname(rest.substring(2))
        dt match {
          case d if Term.numericDatatypes(d) =>
            // canonical lexical form, matching load-time canonicalization.
            // INF/NaN double/float lexicals have no decimal value — typed.
            try Term.numTyped(lit(Term.canonicalNumLex(lex)), lit(d),
                              lit(new java.math.BigDecimal(lex)))
            catch { case _: NumberFormatException => Term.typed(lit(lex), lit(d)) }
          case Term.XsdBoolean => Term.bool(lit(lex == "true" || lex == "1"))
          // dateTime keeps its ORIGINAL lexical form (terms are lexical;
          // TZ()/STR() must round-trip) — value comparison parses the
          // offset at compare time (TermOps.cmp)
          case other => Term.typed(lit(lex), lit(other))
        }
      } else Term.str(lit(lex))
    }

    // inverse of the tokenizer's canonical re-escape (left-to-right scan;
    // chained .replace corrupts sequences like backslash-backslash-n)
    private def unescape(s: String): String = {
      if (s.indexOf('\\') < 0) return s
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f'); case '"' => sb.append('"')
            case '\'' => sb.append('\''); case '\\' => sb.append('\\')
            case other => sb.append('\\').append(other)
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    // ---------------- expressions ----------------

    /** Boolean-aware expression: `term` is the term-struct column; `bool`
      * is a PLAIN boolean column (Kleene 3VL rides Spark's null
      * semantics). Logical connectives compose `bool` directly — composing
      * through the struct (ebv(boolTerm(x))) multiplies the Column tree
      * ~16x PER NESTING LEVEL, which made deeply nested FILTER
      * (a||b)&&(c||d) chains exponential to even *analyze*.
      */
    private final case class PExpr(term: Expr, boolOpt: Option[Expr] = None) {
      def bool: Expr = boolOpt.getOrElse(r => TermOps.ebv(term(r)))
    }
    private def bexpr(b: Expr): PExpr = PExpr(r => boolTerm(b(r)), Some(b))

    private def expression(): Expr = orExpr().term

    /** FILTER/HAVING surface: the boolean column, no struct round-trip. */
    private def boolExpression(): Expr = orExpr().bool

    private def boolTerm(c: Column): Column =
      when(c.isNull, Term.unbound).otherwise(Term.bool(c))

    private def orExpr(): PExpr = {
      var a = andExpr()
      while (peek == "||") { next(); val b = andExpr()
        val (x, y) = (a.bool, b.bool); a = bexpr(r => x(r) || y(r)) }
      a
    }

    private def andExpr(): PExpr = {
      var a = relExpr()
      while (peek == "&&") { next(); val b = relExpr()
        val (x, y) = (a.bool, b.bool); a = bexpr(r => x(r) && y(r)) }
      a
    }

    private def relExpr(): PExpr = {
      val p = addExpr()
      val a = p.term
      peek match {
        case "=" => next(); val b = addExpr().term; bexpr(r => TermOps.valueEq(a(r), b(r)))
        case "!=" => next(); val b = addExpr().term; bexpr(r => !TermOps.valueEq(a(r), b(r)))
        case "<" => next(); val b = addExpr().term; bexpr(r => TermOps.lt(a(r), b(r)))
        case ">" => next(); val b = addExpr().term; bexpr(r => TermOps.gt(a(r), b(r)))
        case "<=" => next(); val b = addExpr().term; bexpr(r => TermOps.le(a(r), b(r)))
        case ">=" => next(); val b = addExpr().term; bexpr(r => TermOps.ge(a(r), b(r)))
        case "IN" | "in" | "In" => next(); inList(a, negated = false)
        case _ if peekIs("NOT") => next(); expect("IN"); inList(a, negated = true)
        case _ => p
      }
    }

    private def inList(a: Expr, negated: Boolean): PExpr = {
      expect("(")
      // the list holds full expressions (17.4.1.9 — "2/0" is legal and
      // contributes a type error to the disjunction); empty list is legal
      // (IN () is false, NOT IN () is true)
      var items = Vector.empty[Expr]
      while (peek != ")") { items :+= expression(); if (peek == ",") next() }
      expect(")")
      bexpr { r =>
        if (items.isEmpty) lit(!negated) === lit(false)
        else {
          val eqs = items.map(t => TermOps.valueEq(a(r), t(r)))
          // SPARQL IN = OR-chain: TRUE beats error, error beats FALSE
          val any = eqs.reduce(_ || _)
          if (negated) !any else any
        }
      }
    }

    private def addExpr(): PExpr = {
      var a = mulExpr()
      def signedNum(t: String): Boolean =
        t.length > 1 && (t(0) == '+' || t(0) == '-') &&
          (t(1).isDigit || t(1) == '.')
      while (peek == "+" || peek == "-" || signedNum(peek)) {
        // "?o+5" lexes the sign into the literal (longest match); the
        // grammar's NumericLiteralPositive/Negative alternative makes it
        // an additive continuation
        if (signedNum(peek)) {
          val c = termConst()
          val x = a.term
          a = PExpr(r => TermOps.arith(x(r), c, _ + _))
        } else {
          val op = next(); val b = mulExpr(); val (x, y) = (a.term, b.term)
          a = PExpr(if (op == "+") r => TermOps.arith(x(r), y(r), _ + _)
                    else r => TermOps.arith(x(r), y(r), _ - _))
        }
      }
      a
    }

    private def mulExpr(): PExpr = {
      var a = unaryExpr()
      while (peek == "*" || peek == "/") {
        val op = next(); val b = unaryExpr(); val (x, y) = (a.term, b.term)
        a = PExpr(if (op == "*") r => TermOps.arith(x(r), y(r), _ * _)
                  else r => TermOps.arith(x(r), y(r),
                    // try_divide: /0 is a SPARQL type error (NULL), not an
                    // ANSI runtime exception — errors must stay expression-
                    // local so IF/COALESCE can catch them (17.2)
                    (a, b) => try_divide(a, b), divide = true))
      }
      a
    }

    private def unaryExpr(): PExpr = {
      if (peek == "!") { next(); val e = unaryExpr().bool; bexpr(r => !e(r)) }
      else if (peek == "-") { next(); val e = unaryExpr().term
        PExpr(r => TermOps.arith(Term.num(lit(0)), e(r), _ - _)) }
      else if (peek == "+") { next(); unaryExpr() }
      else primaryExpr()
    }

    private def primaryExpr(): PExpr = {
      val t = peek
      if (t == "(") { next(); val e = orExpr(); expect(")"); e }
      // EXISTS{} / NOT EXISTS{} as an *operand* (FILTER(?a=?b || NOT
      // EXISTS{...})): allocate a boolean marker variable bound by the
      // enclosing FilterExists node (the reference's askVar rewrite,
      // ASTExistsOptimizer.java)
      else if (t.equalsIgnoreCase("EXISTS") && toks.lift(pos + 1).contains("{")) {
        next(); expect("{"); val sub = groupGraphPattern(); expect("}")
        val v = s"__ex_${exprExistsCount}"; exprExistsCount += 1
        exprExists :+= (v -> sub)
        bexpr(r => r(v).cast(org.apache.spark.sql.types.BooleanType))
      }
      else if (t.equalsIgnoreCase("NOT") &&
               toks.lift(pos + 1).exists(_.equalsIgnoreCase("EXISTS"))) {
        next(); next(); expect("{"); val sub = groupGraphPattern(); expect("}")
        val v = s"__ex_${exprExistsCount}"; exprExistsCount += 1
        exprExists :+= (v -> sub)
        bexpr(r => !r(v).cast(org.apache.spark.sql.types.BooleanType))
      }
      else if (t.startsWith("?")) { next(); val v = t.substring(1); PExpr(r => r(v)) }
      else if (isAggregate(t)) PExpr(aggregateCall())
      else if (isFunction(t)) PExpr(functionCall())
      // XSD constructor casts: xsd:float(?x), xsd:string(?x), … (SPARQL
      // 17.5; the reference routes them through its datatype handlers)
      else if (t.contains(':') && !t.startsWith("<") &&
               toks.lift(pos + 1).contains("(") &&
               scala.util.Try(expandPname(t)).toOption.exists(_.startsWith(Term.XsdNs))) {
        val dt = expandPname(next())
        expect("(")
        val arg = expression()
        expect(")")
        PExpr(r => xsdCast(arg(r), dt))
      }
      // custom IRI function call — <iri>(args) or pname(args) resolved
      // against the user scalar registry (FunctionRegistry.add analogue,
      // TestCustomFunction.java:84). Checked after built-ins and xsd
      // casts so registrations cannot shadow the SPARQL grammar. An
      // UNREGISTERED function still parses (the grammar admits any iri)
      // and evaluates to a type error per 17.6.
      else if (toks.lift(pos + 1).contains("(") && iriFnTarget(t).isDefined) {
        val iri = iriFnTarget(next()).get
        expect("(")
        var as = Vector.empty[Expr]
        if (peek != ")") {
          as :+= expression()
          while (peek == ",") { next(); as :+= expression() }
        }
        expect(")")
        val args = as
        if (Functions.contains(iri)) PExpr(r => Functions(iri)(args.map(a => a(r))))
        else PExpr(_ => Term.unbound)
      }
      else { val c = termConst(); PExpr(_ => c) }
    }

    private def iriFnTarget(t: String): Option[String] =
      if (t.startsWith("<") && t.endsWith(">")) Some(t.substring(1, t.length - 1))
      else if (t.contains(':')) scala.util.Try(expandPname(t)).toOption
      else None


    /** Cast a term to an XSD datatype (17.5 XPath constructor semantics,
      * collapsed onto the decimal num view for numeric types). Uncastable
      * → unbound (type error).
      */
    private def xsdCast(t: Column, dt: String): Column = dt match {
      case d if Term.numericDatatypes(d) =>
        // malformed lexical → NULL (type error), not an ANSI runtime error;
        // integer-family targets truncate fractionless per XPath casting,
        // but a fractional STRING is not castable to an integer type
        val isIntTarget = d == Term.XsdInteger ||
          (Term.numericDatatypes(d) && !Set(Term.XsdDecimal, Term.XsdDouble,
            Term.XsdNs + "float").contains(d))
        val fromStr =
          if (isIntTarget)
            when(Term.lex(t).rlike("^[+-]?\\d+$"), Term.lex(t).cast(Term.numType))
              .otherwise(lit(null).cast(Term.numType))
          else if (d == Term.XsdDecimal)
            // xsd:decimal's lexical space has no exponent ("‑10.2E3" is
            // not castable from a string — cast-dec)
            when(Term.lex(t).rlike("^[+-]?(\\d+\\.?\\d*|\\.\\d+)$"),
                 Term.lex(t).cast(Term.numType))
              .otherwise(lit(null).cast(Term.numType))
          else Term.safeNum(Term.lex(t))
        val nv = Term.numVal(t)
        val v = coalesce(
          if (isIntTarget) // XPath casts truncate toward zero
            when(nv >= 0, floor(nv)).otherwise(ceil(nv)).cast(Term.numType)
          else nv,
          when(Term.dt(t) === Term.XsdBoolean,
               when(Term.lex(t) === "true" || Term.lex(t) === "1", 1).otherwise(0)
                 .cast(Term.numType))
            .otherwise(fromStr))
        when(v.isNotNull, Term.numDt(v, lit(d))).otherwise(Term.unbound)
      case Term.XsdString =>
        when(t.isNotNull, Term.str(Term.lex(t))).otherwise(Term.unbound)
      case Term.XsdBoolean =>
        // XPath casting, not EBV: strings admit only true/false/1/0;
        // numerics map 0 → false, else true (cast-bool)
        val v = when(Term.dt(t) === Term.XsdBoolean, Term.numVal(t) =!= 0)
          .when(Term.numVal(t).isNotNull, Term.numVal(t) =!= 0)
          .when(Term.isLiteral(t) &&
                  (Term.dt(t).isNull || Term.dt(t) === Term.XsdString),
                when(Term.lex(t).isin("true", "1"), lit(true))
                  .when(Term.lex(t).isin("false", "0"), lit(false)))
        when(v.isNotNull, Term.bool(v)).otherwise(Term.unbound)
      case Term.XsdDateTime =>
        // castable only from a dateTime/date-valued term or a string whose
        // lexical form IS a dateTime (cast-dT)
        val ok = Term.dt(t).isin(Term.XsdDateTime, Term.XsdNs + "date") ||
          (Term.isLiteral(t) &&
            (Term.dt(t).isNull || Term.dt(t) === Term.XsdString) &&
            Term.lex(t).rlike(
              "^-?\\d{4,}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})?$"))
        when(ok, Term.typed(Term.lex(t), lit(Term.XsdDateTime)))
          .otherwise(Term.unbound)
      case other =>
        when(t.isNotNull, Term.typed(Term.lex(t), lit(other)))
          .otherwise(Term.unbound)
    }

    private val aggregateNames =
      Set("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")
    private def isAggregate(t: String) = aggregateNames(t.toUpperCase)

    private def aggregateCall(): Expr = {
      val name = next().toUpperCase
      expect("(")
      val distinct = if (peekIs("DISTINCT")) { next(); true } else false
      val (key, agg): (String, AggExpr) =
        if (peek == "*") { next(); ("COUNT(*)", Aggs.countStar) }
        else {
          // aggregate over a general expression: rewrite to a pre-group
          // BIND of an internal variable (GroupByRewriter.java:62)
          val v =
            if (peek.startsWith("?") && toks.lift(pos + 1).contains(")"))
              next().substring(1)
            else {
              val (e, ex) = drainExists(expression())
              val iv = s"__pa_${preAggBinds.size}"
              preAggBinds :+= (iv -> e)
              if (ex.nonEmpty) preAggExists += iv -> ex
              iv
            }
          name match {
            case "COUNT" =>
              if (distinct) (s"COUNT(DISTINCT ?$v)", Aggs.countDistinctVar(v))
              else (s"COUNT(?$v)", Aggs.countVar(v))
            case "SUM" => (s"SUM(?$v)", Aggs.sumVar(v))
            case "AVG" => (s"AVG(?$v)", Aggs.avgVar(v))
            case "MIN" => (s"MIN(?$v)", Aggs.minVar(v))
            case "MAX" => (s"MAX(?$v)", Aggs.maxVar(v))
            case "SAMPLE" => (s"SAMPLE(?$v)", Aggs.sampleVar(v))
            case "GROUP_CONCAT" =>
              var sep = " "
              if (peek == ";") { next(); val kw = next() // SEPARATOR
                require(kw.equalsIgnoreCase("SEPARATOR"), s"expected SEPARATOR, got $kw")
                expect("="); val s = next(); sep = s.substring(1, s.lastIndexOf('"')) }
              (s"GROUP_CONCAT(?$v,$sep)", Aggs.groupConcatVar(v, sep))
          }
        }
      expect(")")
      val internal = aggKeys.getOrElse(key, {
        val v = s"__agg_${aggs.size}"
        aggs :+= (v -> agg); aggKeys += key -> v; v
      })
      r => col(internal)
    }

    private def isFunction(t: String) = Parser.functionNames(t.toUpperCase)

    /** Functions whose trailing arguments must be constant string literals
      * (patterns/separators compiled into the plan, not data-dependent).
      */
    private val constStrFns = Set("REGEX", "STRBEFORE", "STRAFTER", "REPLACE",
                                  "LANGMATCHES")

    private def functionCall(): Expr = {
      val name = next().toUpperCase
      expect("(")
      var args = Vector.empty[Expr]
      var strs = Vector.empty[String]
      if (constStrFns(name)) {
        args :+= expression()
        while (peek == ",") {
          next()
          val t = next()
          require(t.startsWith("\""), s"$name needs a constant string, got '$t'")
          strs :+= unescape(t.substring(1, t.lastIndexOf('"')))
        }
      } else {
        while (peek != ")") { args :+= expression(); if (peek == ",") next() }
      }
      expect(")")
      def litString(i: Int): String = strs(i)
      // SPARQL 17.4.3 string-argument discipline: the functions below take
      // string literals (simple, xsd:string, or language-tagged); anything
      // else is a type error. Results derived from arg-1 carry its
      // language tag (SUBSTR("bar"@en,...) = "b"@en).
      def isStringLit(t: Column): Column =
        Term.isLiteral(t) && (Term.lang(t).isNotNull ||
          Term.dt(t).isNull || Term.dt(t) === Term.XsdString)
      def isSimpleStr(t: Column): Column =
        Term.isLiteral(t) && Term.lang(t).isNull &&
          (Term.dt(t).isNull || Term.dt(t) === Term.XsdString)
      def strDerived(src: Column, lexOut: Column): Column =
        when(!isStringLit(src), Term.unbound)
          .when(Term.lang(src).isNotNull, Term.langStr(lexOut, Term.lang(src)))
          .otherwise(Term.str(lexOut))
      val f: Expr = name match {
        case "BOUND" => r => boolTerm(TermOps.bound(args(0)(r)))
        case "STR" => r => TermOps.strFn(args(0)(r))
        case "LANG" => r => TermOps.langFn(args(0)(r))
        case "DATATYPE" => r => TermOps.datatypeFn(args(0)(r))
        case "ISIRI" | "ISURI" => r => boolTerm(Term.isIri(args(0)(r)))
        case "ISLITERAL" => r => boolTerm(Term.isLiteral(args(0)(r)))
        case "ISBLANK" => r => boolTerm(Term.isBnode(args(0)(r)))
        case "ISNUMERIC" => r => boolTerm(Term.isNumeric(args(0)(r)))
        case "SAMETERM" => r => boolTerm(TermOps.sameTerm(args(0)(r), args(1)(r)))
        // an ERROR condition propagates as error — it must not select the
        // else-branch (17.4.1.2)
        case "IF" => r => {
          val c = TermOps.ebv(args(0)(r))
          when(c.isNotNull && c, args(1)(r))
            .when(c.isNotNull && !c, args(2)(r))
            .otherwise(Term.unbound)
        }
        case "COALESCE" => r => coalesce(args.map(_(r)): _*)
        case "REGEX" => r => {
          // 17.4.3.14: flags map to Java's embedded-flag syntax; `q`
          // (literal match) quotes the whole pattern
          val pat0 =
            if (strs.size > 1 && strs(1).contains("q"))
              java.util.regex.Pattern.quote(litString(0))
            else litString(0)
          val emb = if (strs.size > 1) strs(1).filter("smix".contains(_)) else ""
          val pat = if (emb.nonEmpty) s"(?$emb)$pat0" else pat0
          // the text argument must be a string literal (simple, xsd:string
          // or lang-tagged) — regex over an IRI is a type error
          // (regex-query-003)
          val t = args(0)(r)
          val isStr = Term.isLiteral(t) &&
            (Term.dt(t).isNull || Term.dt(t) === Term.XsdString ||
             Term.lang(t).isNotNull)
          boolTerm(when(isStr, Term.lex(t).rlike(pat)))
        }
        case "CONTAINS" => r => boolTerm(Term.lex(args(0)(r)).contains(Term.lex(args(1)(r))))
        case "STRSTARTS" => r => boolTerm(Term.lex(args(0)(r)).startsWith(Term.lex(args(1)(r))))
        case "STRENDS" => r => boolTerm(Term.lex(args(0)(r)).endsWith(Term.lex(args(1)(r))))
        case "STRLEN" => r => Term.num(length(Term.lex(args(0)(r))).cast("long"), Term.XsdInteger)
        case "UCASE" => r => {
          val s = args(0)(r); strDerived(s, upper(Term.lex(s)))
        }
        case "LCASE" => r => {
          val s = args(0)(r); strDerived(s, lower(Term.lex(s)))
        }
        case "CONCAT" => r => {
          // 17.4.3.12: all args must be string literals; the result keeps
          // a language tag only when EVERY arg carries that same tag.
          // The grammar admits a NIL argument list: CONCAT() = "".
          val srcs = args.map(a => a(r))
          if (srcs.isEmpty) Term.str(lit("")) else {
            val ok = srcs.map(isStringLit).reduce(_ && _)
            val commonLang = srcs.map(Term.lang)
              .reduce((a, b) => when(a <=> b, a).otherwise(lit(null).cast("string")))
            val lexOut = concat(srcs.map(Term.lex): _*)
            when(!ok, Term.unbound)
              .when(commonLang.isNotNull, Term.langStr(lexOut, commonLang))
              .otherwise(Term.str(lexOut))
          }
        }
        case "SUBSTR" => r => {
          val s = args(0)(r)
          val lexOut =
            if (args.size >= 3)
              Term.lex(s).substr(Term.numVal(args(1)(r)).cast("int"),
                                 Term.numVal(args(2)(r)).cast("int"))
            else Term.lex(s).substr(Term.numVal(args(1)(r)).cast("int"),
                                    length(Term.lex(s)))
          strDerived(s, lexOut)
        }
        // STRBEFORE/STRAFTER: the result (match, empty-delimiter, AND
        // no-match) carries arg-1's language/type — the pre-errata
        // definition Sesame and the reference implement, pinned by the
        // vendored strbefore01.srx (s2 no-match → ""@ja)
        case "STRBEFORE" => r => {
          val s = args(0)(r)
          val (x, d) = (Term.lex(s), litString(0))
          strDerived(s,
            when(lit(d.isEmpty) || !x.contains(d), lit(""))
              .otherwise(substring_index(x, d, 1)))
        }
        case "STRAFTER" => r => {
          val s = args(0)(r)
          val (x, d) = (Term.lex(s), litString(0))
          // SPARQL 17.4.3.9: substring after the FIRST occurrence (not
          // substring_index's last); empty delimiter yields x (locate=1)
          strDerived(s,
            when(x.contains(d),
                 x.substr(locate(d, x) + lit(d.length), length(x)))
              .otherwise(lit("")))
        }
        case "REPLACE" => r => {
          val s = args(0)(r)
          strDerived(s, regexp_replace(Term.lex(s), litString(0), litString(1)))
        }
        // 17.4.4: ABS/CEIL/FLOOR/ROUND return the argument's OWN numeric
        // datatype (CEIL(-1^^integer) is integer, not decimal)
        case "ABS" => r => numFnSameDt(args(0)(r), abs)
        case "CEIL" => r => numFnSameDt(args(0)(r), c => ceil(c).cast(Term.numType))
        case "FLOOR" => r => numFnSameDt(args(0)(r), c => floor(c).cast(Term.numType))
        case "ROUND" => r => numFnSameDt(args(0)(r), c => round(c, 0))
        case "MD5" => r => Term.str(md5(Term.lex(args(0)(r))))
        case "SHA1" => r => Term.str(sha1(Term.lex(args(0)(r))))
        case "SHA256" => r => Term.str(sha2(Term.lex(args(0)(r)), 256))
        case "SHA512" => r => Term.str(sha2(Term.lex(args(0)(r)), 512))
        case "ENCODE_FOR_URI" => r => Term.str(url_encode(Term.lex(args(0)(r))))
        // term constructors (SPARQL 17.4.2.5-2.8)
        case "IRI" | "URI" => r => {
          val a = args(0)(r)
          // relative strings resolve against the query BASE (17.4.2.6);
          // scheme-prefixed strings are already absolute. Columnar RFC 3986
          // subset: fragment / absolute-path / relative-path references.
          val lex = Term.lex(a)
          val resolved =
            if (base.isEmpty) lex
            else {
              val noFrag = base.takeWhile(_ != '#')
              val root = "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)".r
                .findFirstMatchIn(base).map(_.group(1)).getOrElse(base)
              val dir = noFrag.substring(0, noFrag.lastIndexOf('/') + 1)
              when(lex.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), lex)
                .when(lex.startsWith("#"), concat(lit(noFrag), lex))
                .when(lex.startsWith("/"), concat(lit(root), lex))
                .otherwise(concat(lit(dir), lex))
            }
          when(Term.isIri(a), a)
            .when(isSimpleStr(a), Term.iri(resolved))
            .otherwise(Term.unbound)
        }
        // 17.4.2.7/2.8: STRDT/STRLANG require a SIMPLE literal (typed or
        // tagged input is a type error)
        case "STRDT" => r => {
          val (a, d) = (args(0)(r), args(1)(r))
          when(isSimpleStr(a) && Term.isIri(d),
               Term.typedWithNum(Term.lex(a), Term.lex(d)))
            .otherwise(Term.unbound)
        }
        case "STRLANG" => r => {
          val (a, l) = (args(0)(r), args(1)(r))
          when(isSimpleStr(a) && isSimpleStr(l) && length(Term.lex(l)) > 0,
               Term.langStr(Term.lex(a), Term.lex(l)))
            .otherwise(Term.unbound)
        }
        // BNODE(str): content-addressed label — same argument, same bnode
        // (replay-safe determinism instead of RNG state, like CONSTRUCT's
        // bnode handling); BNODE() mints a fresh label per solution
        case "BNODE" =>
          if (args.isEmpty)
            r => Term.bnode(concat(lit("fn0_"),
              monotonically_increasing_id().cast("string")))
          else r => Term.bnode(concat(lit("fn_"), md5(Term.lex(args(0)(r)))))
        // TZ returns the zone string ("Z", "+05:00", "" if absent);
        // TIMEZONE's xsd:dayTimeDuration form maps to the same lexical tail
        case "TZ" => r => Term.str(
          coalesce(regexp_extract(Term.lex(args(0)(r)),
                                  "(Z|[+-]\\d{2}:\\d{2})$", 1), lit("")))
        // date/time accessors over xsd:dateTime lexical forms (DateBOp.java:47)
        case "YEAR" => r => dtPart(args(0)(r), "^(-?\\d{4,})-")
        case "MONTH" => r => dtPart(args(0)(r), "^-?\\d{4,}-(\\d{2})")
        case "DAY" => r => dtPart(args(0)(r), "^-?\\d{4,}-\\d{2}-(\\d{2})")
        case "HOURS" => r => dtPart(args(0)(r), "T(\\d{2}):")
        case "MINUTES" => r => dtPart(args(0)(r), "T\\d{2}:(\\d{2}):")
        // SECONDS is xsd:decimal (fractional seconds are part of the value)
        case "SECONDS" => r =>
          dtPart(args(0)(r), "T\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)", Term.XsdDecimal)
        // TIMEZONE(): the zone as an xsd:dayTimeDuration; absent → error
        case "TIMEZONE" => r => {
          val z = regexp_extract(Term.lex(args(0)(r)),
                                 "(Z|[+-]\\d{2}:\\d{2})$", 1)
          val hh = substring(z, 2, 2).cast("int")
          val mm = substring(z, 5, 2).cast("int")
          val sign = when(z.startsWith("-"), "-").otherwise("")
          val dur = when(z === "Z" || (hh === 0 && mm === 0), lit("PT0S"))
            .otherwise(concat(sign, lit("PT"), hh.cast("string"), lit("H"),
              when(mm > 0, concat(mm.cast("string"), lit("M"))).otherwise(lit(""))))
          when(z =!= "", Term.typed(dur, lit(Term.XsdNs + "dayTimeDuration")))
            .otherwise(Term.unbound)
        }
        case "LANGMATCHES" => r => {
          // RFC 4647 basic filtering: "*" matches any non-empty tag;
          // otherwise the range matches the tag exactly or as a subtag
          // prefix ("en" matches "en-US"), case-insensitively
          val tag = lower(Term.lex(args(0)(r)))
          val range = litString(0).toLowerCase
          boolTerm(
            if (range == "*") length(tag) > 0
            else tag === range || tag.startsWith(range + "-"))
        }
        // NOW(): the instant captured at parse time, xsd:dateTime
        case "NOW" => _ =>
          Term.typed(lit(queryNow.toString), lit(Term.XsdDateTime))
        // RAND(): xsd:double in [0,1), seeded by the query text
        case "RAND" => _ => Term.num(rand(querySeed), Term.XsdDouble)
        case "UUID" =>
          val hex = uuidHex()
          _ => Term.iri(concat(lit("urn:uuid:"), uuidShape(hex)))
        case "STRUUID" =>
          val hex = uuidHex()
          _ => Term.str(uuidShape(hex))
        case other => throw new IllegalArgumentException(s"unsupported function $other")
      }
      f
    }

    /** Format 32 hex chars into the 8-4-4-4-12 UUID shape. */
    private def uuidShape(h: Column): Column = concat(
      substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
      substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
      substring(h, 21, 12))


    private def numFn(t: Column, f: Column => Column): Column =
      when(Term.numVal(t).isNotNull, Term.num(f(Term.numVal(t)).cast(Term.numType)))
        .otherwise(Term.unbound)

    /** Numeric fn that keeps the argument's own datatype (17.4.4). */
    /** CEIL/FLOOR/ROUND keep the argument's datatype for the types the
      * W3C round01/ceil01/floor01 fixtures pin (integer, decimal); for
      * double/float the reference's math ops round through BigDecimal and
      * render xsd:decimal (its own search-2 fixture) — follow it there.
      */
    private def numFnSameDt(t: Column, f: Column => Column): Column = {
      val outDt =
        when(Term.dt(t).isin(Term.XsdDouble, Term.XsdNs + "float"),
             Term.XsdDecimal).otherwise(Term.dt(t))
      when(Term.numVal(t).isNotNull,
           Term.numDt(f(Term.numVal(t)).cast(Term.numType), outDt))
        .otherwise(Term.unbound)
    }

    /** Date/time component from the LEXICAL form (no zone conversion:
      * HOURS("…T15:38:02-08:00") is 15; to_timestamp would shift it).
      */
    private def dtPart(t: Column, pattern: String,
                       dt: String = Term.XsdInteger): Column = {
      val part = regexp_extract(Term.lex(t), pattern, 1)
      when(Term.isLiteral(t) && part =!= "",
           Term.num(part.cast(Term.numType), dt)).otherwise(Term.unbound)
    }

    private def stripIri(t: String): String =
      graft.rdf.Iri.resolve(
        graft.rdf.Iri.decodeUchar(t.substring(1, t.length - 1)), base)

    private def expandPname(t0: String): String = {
      // DAWG-era queries carry \uXXXX escapes in prefixed names
      val t = graft.rdf.Iri.decodeUchar(t0)
      val idx = t.indexOf(':')
      require(idx >= 0, s"not an IRI or prefixed name: '$t'")
      val (p, local) = (t.substring(0, idx), t.substring(idx + 1))
      prefixes.get(p).orElse(ImplicitPrefixes.get(p)) match {
        case Some(ns) => ns + local
        case None => throw new IllegalArgumentException(s"unknown prefix '$p:'")
      }
    }
  }

  private val RdfTypeIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  /** Query-hint namespace: statements in it parse and are dropped
    * (reference: QueryHints.java:74 — planner directives, which Catalyst
    * owns in this engine).
    */
  private val HintNs = "http://www.bigdata.com/queryHints#"

  /** The reference's full-text-search vocabulary (rdf/store/BDS.java:94) —
    * accepted as an alias for the internal search service's namespace.
    */
  private val BdsNs = "http://www.bigdata.com/rdf/search#"

  /** Prefixes auto-declared for every query, matching the reference's
    * PrefixDeclProcessor.java:196-214 (bd/bds/hint/rdf/rdfs/xsd/foaf/fn/
    * owl/sesame + dc for the draft-era fixtures).
    */
  private val ImplicitPrefixes: Map[String, String] = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "fn" -> "http://www.w3.org/2005/xpath-functions#",
    "dc" -> "http://purl.org/dc/elements/1.1/",
    "hint" -> HintNs,
    "bd" -> "http://www.bigdata.com/rdf#",
    "bds" -> "http://www.bigdata.com/rdf/search#")

  /** The built-in function registry (exposed for the guard test that keeps
    * this set and the implementation in lockstep).
    */
  private[graft] val functionNames = Set(
    "BOUND", "STR", "LANG", "DATATYPE", "ISIRI", "ISURI", "ISLITERAL",
    "ISBLANK", "ISNUMERIC", "SAMETERM", "IF", "COALESCE", "REGEX",
    "CONTAINS", "STRSTARTS", "STRENDS", "STRLEN", "UCASE", "LCASE",
    "CONCAT", "SUBSTR", "ABS", "CEIL", "FLOOR", "ROUND", "YEAR", "MONTH",
    "DAY", "HOURS", "MINUTES", "SECONDS", "MD5", "SHA1", "SHA256", "SHA512",
    "ENCODE_FOR_URI", "LANGMATCHES", "STRBEFORE", "STRAFTER", "REPLACE",
    "IRI", "URI", "STRDT", "STRLANG", "BNODE", "TZ", "TIMEZONE",
    "NOW", "RAND", "UUID", "STRUUID")
}
