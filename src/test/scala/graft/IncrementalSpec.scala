package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.rdf.{NTriples, QuadStore, Term}
import graft.rules.RDFS
import graft.search.FullText
import graft.sparql.{Parser, Translator}
import graft.sparql.Algebra._

/** Incremental closure maintenance, subject-centric search, frame sampling,
  * empty-store robustness, and BGP ordering.
  */
class IncrementalSpec extends SparkSpecBase {

  private val EX = "http://ex/"
  private def parse(nt: Seq[String]): DataFrame =
    NTriples.parseLines(spark, spark.createDataset(nt)(Encoders.STRING).toDF("value"))

  test("incremental closure on assert equals full recompute") {
    val base = parse(Seq(
      s"<${EX}Dog> <${RDFS.SubClassOf}> <${EX}Mammal> .",
      s"<${EX}Mammal> <${RDFS.SubClassOf}> <${EX}Animal> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> ."))
    val closed = RDFS.closure(base)
    // assert a new individual + a new subclass edge
    val delta = parse(Seq(
      s"<${EX}lassie> <${RDFS.RdfType}> <${EX}Dog> .",
      s"<${EX}Animal> <${RDFS.SubClassOf}> <${EX}Thing> ."))
    val inc = RDFS.incrementalClosure(closed, delta)
    val full = RDFS.closure(QuadStore.insert(base, delta))
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "incremental result diverges from recompute")
    // spot: lassie inherits all the way to the NEW superclass
    assert(!inc.filter(col("s") === Term.iri(EX + "lassie") &&
                       col("o") === Term.iri(EX + "Thing")).isEmpty)
  }

  test("OWL property rules: inverseOf, symmetric, transitive, RDFS interplay") {
    import graft.rules.Owl
    val base = parse(Seq(
      // inverseOf both ways
      s"<${EX}worksFor> <${Owl.InverseOf}> <${EX}employs> .",
      s"<${EX}alice> <${EX}worksFor> <${EX}acme> .",
      s"<${EX}globex> <${EX}employs> <${EX}bob> .",
      // symmetric
      s"<${EX}knows> <${RDFS.RdfType}> <${Owl.SymmetricProperty}> .",
      s"<${EX}alice> <${EX}knows> <${EX}bob> .",
      // transitive chain a→b→c→d
      s"<${EX}within> <${RDFS.RdfType}> <${Owl.TransitiveProperty}> .",
      s"<${EX}a> <${EX}within> <${EX}b> .",
      s"<${EX}b> <${EX}within> <${EX}c> .",
      s"<${EX}c> <${EX}within> <${EX}d> .",
      // RDFS interplay: employs-derived facts get domain-typed
      s"<${EX}employs> <${RDFS.Domain}> <${EX}Org> ."))
    val closed = Owl.closure(base)
    def has(s: String, p: String, o: String) =
      !closed.filter(col("s") === Term.iri(s) && col("p") === Term.iri(p) &&
                     col("o") === Term.iri(o)).isEmpty
    assert(has(EX + "acme", EX + "employs", EX + "alice")) // inverse fwd
    assert(has(EX + "bob", EX + "worksFor", EX + "globex")) // inverse bwd
    assert(has(EX + "bob", EX + "knows", EX + "alice")) // symmetric
    assert(has(EX + "a", EX + "within", EX + "c")) // transitive 1 hop
    assert(has(EX + "a", EX + "within", EX + "d")) // transitive 2 hops
    // the INFERRED (acme employs alice) triggers rdfs2 domain typing
    assert(has(EX + "acme", RDFS.RdfType, EX + "Org"))
    // idempotence: closing the closure adds nothing
    val again = Owl.closure(closed)
    assert(again.except(closed).isEmpty && closed.except(again).isEmpty)
  }

  test("subPropertyOf a transitive property does NOT inherit transitivity (ticket 610)") {
    import graft.rules.Owl
    // the reference's ticket 610: (b subPropertyOf a), (a type Transitive)
    // wrongly derived (b type TransitiveProperty); facts over b must only
    // chain via their rdfs7-lifted a-edges, never via b itself
    val base = parse(Seq(
      s"<${EX}a> <${RDFS.RdfType}> <${Owl.TransitiveProperty}> .",
      s"<${EX}b> <${RDFS.SubPropertyOf}> <${EX}a> .",
      s"<${EX}x> <${EX}b> <${EX}y> .",
      s"<${EX}y> <${EX}b> <${EX}z> ."))
    val closed = Owl.closure(base)
    def has(s: String, p: String, o: String) =
      !closed.filter(col("s") === Term.iri(s) && col("p") === Term.iri(p) &&
                     col("o") === Term.iri(o)).isEmpty
    assert(!has(EX + "b", RDFS.RdfType, Owl.TransitiveProperty),
           "b must not become a TransitiveProperty")
    assert(!has(EX + "x", EX + "b", EX + "z"), "no transitive chain over b")
    // the rdfs7-lifted a-edges DO chain (a is transitive)
    assert(has(EX + "x", EX + "a", EX + "z"))
  }

  test("OWL equivalence + hasValue rules interplay with the fixpoint") {
    import graft.rules.Owl
    val base = parse(Seq(
      // equivalentClass chain feeding through symmetry: typing propagates
      s"<${EX}Dog> <${Owl.EquivalentClass}> <${EX}Canine> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> .",
      // equivalentProperty: statements propagate BOTH ways (via symmetry)
      s"<${EX}title> <${Owl.EquivalentProperty}> <${EX}label> .",
      s"""<${EX}d1> <${EX}title> "Intro" .""",
      s"""<${EX}d2> <${EX}label> "Guide" .""",
      // hasValue restriction: typed members gain the (onProperty, value)
      s"<${EX}Insider> <${RDFS.RdfType}> <${Owl.Restriction}> .",
      s"<${EX}Insider> <${Owl.OnProperty}> <${EX}memberOf> .",
      s"<${EX}Insider> <${Owl.HasValue}> <${EX}club> .",
      s"<${EX}eve> <${RDFS.RdfType}> <${EX}Insider> .",
      // interplay: memberOf is transitive, club is within parent
      s"<${EX}memberOf> <${RDFS.RdfType}> <${Owl.TransitiveProperty}> .",
      s"<${EX}club> <${EX}memberOf> <${EX}federation> ."))
    val closed = Owl.closure(base)
    def has(s: String, p: String, o: String) =
      !closed.filter(col("s") === Term.iri(s) && col("p") === Term.iri(p) &&
                     col("o") === Term.iri(o)).isEmpty
    assert(has(EX + "rex", RDFS.RdfType, EX + "Canine")) // eqc member fwd
    assert(has(EX + "Canine", Owl.EquivalentClass, EX + "Dog")) // symmetry
    assert(!closed.filter(col("s") === Term.iri(EX + "d1") &&
      col("p") === Term.iri(EX + "label")).isEmpty) // eqp fwd
    assert(!closed.filter(col("s") === Term.iri(EX + "d2") &&
      col("p") === Term.iri(EX + "title")).isEmpty) // eqp bwd via symmetry
    assert(has(EX + "eve", EX + "memberOf", EX + "club")) // hasValue
    // the hasValue-derived fact feeds the transitive rule
    assert(has(EX + "eve", EX + "memberOf", EX + "federation"))
    val again = Owl.closure(closed)
    assert(again.except(closed).isEmpty && closed.except(again).isEmpty)
  }

  test("OWL functional properties derive sameAs; canonicalization merges") {
    import graft.rules.{Owl, OwlSameAs}
    val base = parse(Seq(
      // hasSSN is inverse-functional: same (p, o) ⇒ same subject
      s"<${EX}hasSSN> <${RDFS.RdfType}> <${Owl.InverseFunctionalProperty}> .",
      s"<${EX}alice1> <${EX}hasSSN> <${EX}ssn42> .",
      s"<${EX}alice2> <${EX}hasSSN> <${EX}ssn42> .",
      // hasBirthMother is functional: same subject ⇒ same object
      s"<${EX}hasBirthMother> <${RDFS.RdfType}> <${Owl.FunctionalProperty}> .",
      s"<${EX}bob> <${EX}hasBirthMother> <${EX}m1> .",
      s"<${EX}bob> <${EX}hasBirthMother> <${EX}m2> .",
      s"<${EX}alice1> <${EX}age> <${EX}thirty> ."))
    val closed = Owl.closure(base)
    val sameAs = closed.filter(col("p") === Term.iri(OwlSameAs.SameAs))
    // both directions derived for both property kinds
    assert(!sameAs.filter(col("s") === Term.iri(EX + "alice1") &&
                          col("o") === Term.iri(EX + "alice2")).isEmpty)
    assert(!sameAs.filter(col("s") === Term.iri(EX + "m1") &&
                          col("o") === Term.iri(EX + "m2")).isEmpty)
    // derived sameAs feeds the canonicalizer: alice1/alice2 collapse
    val canon = OwlSameAs.canonicalize(closed)
    val aliceSubjects = canon
      .filter(col("p") === Term.iri(EX + "hasSSN")).select("s").distinct()
    assert(aliceSubjects.count() == 1)
  }

  test("OWL closure: driver-local and distributed fixpoints agree " +
       "fact-for-fact on every rule family") {
    import graft.rules.Owl
    // every non-RDFS rule family in one store (RDFS axioms would route both
    // runs to the distributed path and void the comparison): inverseOf,
    // symmetric, transitive, functional/inverse-functional, equivalence
    // (class + property), hasValue restriction — plus interplay chains
    val base = parse(Seq(
      s"<${EX}worksFor> <${Owl.InverseOf}> <${EX}employs> .",
      s"<${EX}alice> <${EX}worksFor> <${EX}acme> .",
      s"<${EX}globex> <${EX}employs> <${EX}bob> .",
      s"<${EX}knows> <${RDFS.RdfType}> <${Owl.SymmetricProperty}> .",
      s"<${EX}alice> <${EX}knows> <${EX}bob> .",
      s"<${EX}within> <${RDFS.RdfType}> <${Owl.TransitiveProperty}> .",
      s"<${EX}a> <${EX}within> <${EX}b> .",
      s"<${EX}b> <${EX}within> <${EX}c> .",
      s"<${EX}c> <${EX}within> <${EX}d> .",
      s"<${EX}hasSSN> <${RDFS.RdfType}> <${Owl.InverseFunctionalProperty}> .",
      s"<${EX}p1> <${EX}hasSSN> <${EX}ssn42> .",
      s"<${EX}p2> <${EX}hasSSN> <${EX}ssn42> .",
      s"<${EX}hasMother> <${RDFS.RdfType}> <${Owl.FunctionalProperty}> .",
      s"<${EX}kid> <${EX}hasMother> <${EX}m1> .",
      s"<${EX}kid> <${EX}hasMother> <${EX}m2> .",
      s"<${EX}Dog> <${Owl.EquivalentClass}> <${EX}Canine> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> .",
      s"<${EX}title> <${Owl.EquivalentProperty}> <${EX}label> .",
      s"""<${EX}d1> <${EX}title> "Intro" .""",
      s"""<${EX}d2> <${EX}label> "Guide" .""",
      s"<${EX}Insider> <${RDFS.RdfType}> <${Owl.Restriction}> .",
      s"<${EX}Insider> <${Owl.OnProperty}> <${EX}memberOf> .",
      s"<${EX}Insider> <${Owl.HasValue}> <${EX}club> .",
      s"<${EX}eve> <${RDFS.RdfType}> <${EX}Insider> .",
      s"<${EX}memberOf> <${RDFS.RdfType}> <${Owl.TransitiveProperty}> .",
      s"<${EX}club> <${EX}memberOf> <${EX}federation> .",
      // inert facts must survive both paths untouched
      s"""<${EX}d1> <${EX}pages> "12" ."""))
    // the default iteration cap, then caps that cut the fixpoint short:
    // both executors derive the same fact set in every round
    val sizes = for (maxIters <- Seq(32, 1, 2)) yield {
      val local = Owl.closure(base, maxIters)
      local.collect()
      assert(graft.util.Bounded.strategy("owl") == "local",
        "the default bound must take the driver-local fixpoint on this store")
      spark.conf.set(Owl.OwlLocalMaxFactsConf, "0")
      try {
        val dist = Owl.closure(base, maxIters)
        dist.collect()
        assert(graft.util.Bounded.strategy("owl") == "distributed",
          "bound 0 must force the scheduled semi-naive fixpoint")
        assert(local.except(dist).isEmpty && dist.except(local).isEmpty,
          s"local and distributed OWL closures diverged at maxIters=$maxIters")
      } finally spark.conf.unset(Owl.OwlLocalMaxFactsConf)
      local.count()
    }
    assert(sizes(1) < sizes(0), s"one round must cut the fixpoint short: $sizes")
  }

  test("OWL closure: an axiom derived over an axiom property fires its rule") {
    import graft.rules.Owl
    // myInv is equivalent to owl:inverseOf, so (x myInv y) derives
    // (x inverseOf y): no inverseOf axiom is asserted, yet prp-inv1 must
    // turn (a x b) into (b y a)
    val base = parse(Seq(
      s"<${EX}myInv> <${Owl.EquivalentProperty}> <${Owl.InverseOf}> .",
      s"<${EX}x> <${EX}myInv> <${EX}y> .",
      s"<${EX}a> <${EX}x> <${EX}b> ."))
    for (bound <- Seq(None, Some("0"))) {
      bound.foreach(spark.conf.set(Owl.OwlLocalMaxFactsConf, _))
      try {
        val closed = Owl.closure(base)
        def has(s: String, p: String, o: String) =
          !closed.filter(col("s") === Term.iri(s) && col("p") === Term.iri(p) &&
                         col("o") === Term.iri(o)).isEmpty
        assert(has(EX + "x", Owl.InverseOf, EX + "y"), s"bound $bound")
        assert(has(EX + "b", EX + "y", EX + "a"), s"bound $bound")
      } finally spark.conf.unset(Owl.OwlLocalMaxFactsConf)
    }
  }

  test("axiomatic RDFS closure: rdf1/rdfs4/6/8/10/12/13 on request") {
    val base = parse(Seq(
      s"<${EX}Dog> <${RDFS.SubClassOf}> <${EX}Mammal> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> .",
      s"<${EX}Dog> <${RDFS.RdfType}> <${RDFS.RdfsNs}Class> .",
      s"<${EX}li> <${RDFS.RdfType}> <${RDFS.RdfsNs}ContainerMembershipProperty> .",
      s"<${EX}a> <${EX}li> <${EX}b> ."))
    val closed = RDFS.axiomaticClosure(RDFS.closure(base))
    def has(s: String, pp: String, o: String) =
      !closed.filter(col("s") === Term.iri(s) && col("p") === Term.iri(pp) &&
                     col("o") === Term.iri(o)).isEmpty
    // rdf1: predicates are Properties
    assert(has(RDFS.SubClassOf, RDFS.RdfType, RDFS.RdfNs + "Property"))
    // rdfs4: terms are Resources
    assert(has(EX + "rex", RDFS.RdfType, RDFS.RdfsNs + "Resource"))
    // rdfs6 reflexivity
    assert(has(EX + "li", RDFS.SubPropertyOf, EX + "li"))
    // rdfs8/10 for declared classes
    assert(has(EX + "Dog", RDFS.SubClassOf, RDFS.RdfsNs + "Resource"))
    assert(has(EX + "Dog", RDFS.SubClassOf, EX + "Dog"))
    // rdfs12 + property inheritance: li edge implies member edge
    assert(has(EX + "li", RDFS.SubPropertyOf, RDFS.RdfsNs + "member"))
    assert(has(EX + "a", RDFS.RdfsNs + "member", EX + "b"))
  }

  test("reliable-checkpoint fixpoints equal the localCheckpoint path") {
    val base = parse(Seq(
      s"<${EX}Dog> <${RDFS.SubClassOf}> <${EX}Mammal> .",
      s"<${EX}Mammal> <${RDFS.SubClassOf}> <${EX}Animal> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> ."))
    val local = RDFS.closure(base)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(org.apache.spark.sql.graft.Internal.ReliableCheckpointsConf, "true")
    try {
      val reliable = RDFS.closure(base)
      assert(reliable.except(local).isEmpty && local.except(reliable).isEmpty)
    } finally {
      spark.conf.unset(org.apache.spark.sql.graft.Internal.ReliableCheckpointsConf)
    }
  }

  test("DRed retraction equals full recompute, rederives survivors") {
    val base = parse(Seq(
      s"<${EX}Dog> <${RDFS.SubClassOf}> <${EX}Mammal> .",
      s"<${EX}Mammal> <${RDFS.SubClassOf}> <${EX}Animal> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> .",
      // a second, independent derivation of (rex type Animal): Pet path
      s"<${EX}Pet> <${RDFS.SubClassOf}> <${EX}Animal> .",
      s"<${EX}rex> <${RDFS.RdfType}> <${EX}Pet> ."))
    val closed = RDFS.closure(base)
    // retract the Mammal path: (rex type Mammal) must go away, but
    // (rex type Animal) must SURVIVE via the Pet derivation (the rederive
    // step — naive cascade deletion would wrongly drop it)
    val deleted = parse(Seq(s"<${EX}Dog> <${RDFS.SubClassOf}> <${EX}Mammal> ."))
    val inc = RDFS.retractClosure(closed, base, deleted)
    val full = RDFS.closure(QuadStore.delete(base, deleted))
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "DRed result diverges from recompute")
    assert(inc.filter(col("s") === Term.iri(EX + "rex") &&
                      col("o") === Term.iri(EX + "Mammal")).isEmpty)
    assert(!inc.filter(col("s") === Term.iri(EX + "rex") &&
                       col("o") === Term.iri(EX + "Animal")).isEmpty)

    // retracting a base type fact drops its whole inheritance chain
    val inc2 = RDFS.retractClosure(closed, base,
      parse(Seq(s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> .")))
    val full2 = RDFS.closure(QuadStore.delete(base,
      parse(Seq(s"<${EX}rex> <${RDFS.RdfType}> <${EX}Dog> ."))))
    assert(inc2.except(full2).isEmpty && full2.except(inc2).isEmpty)
  }

  test("subject-centric full-text: subjects rank by their literal bag") {
    val quads = parse(Seq(
      s"""<${EX}doc1> <${EX}title> "spark engine" .""",
      s"""<${EX}doc1> <${EX}body> "fast joins" .""",
      s"""<${EX}doc2> <${EX}title> "slow snail" ."""))
    val idx = FullText.buildSubjectIndex(quads)
    val hits = FullText.search(idx, Seq("spark", "fast"), 0.0, 10).collect()
    assert(hits.length == 1 && hits(0).getString(0) == EX + "doc1")
  }

  test("incremental full-text: tf index appends; scores match the batch index") {
    import graft.search.FullText
    import org.apache.spark.sql.Encoders
    def docs(rows: (String, String)*) =
      spark.createDataset(rows)(Encoders.product[(String, String)]).toDF("doc", "text")
    val batch1 = docs("d1" -> "spark joins data fast", "d2" -> "slow tortoise walks")
    val batch2 = docs("d3" -> "fast spark query engine")
    // incremental: build from batch1, append batch2
    val tf = FullText.appendDocs(FullText.buildTfIndex(batch1), batch2)
    // oracle: batch index over the union
    val all = batch1.unionByName(batch2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc", "score", "rank")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq.sorted
    val inc = rows(FullText.searchTf(tf, Seq("spark", "fast")))
    val bat = rows(FullText.search(FullText.buildIndex(all), Seq("spark", "fast")))
    assert(inc == bat, s"incremental $inc != batch $bat")
    assert(inc.map(_._1).toSet == Set("d1", "d3"))
    // stats maintained incrementally (no postings re-read) must score
    // identically to stats rebuilt from the full index
    val incStats = FullText.appendTfStats(
      FullText.buildTfStats(FullText.buildTfIndex(batch1)), batch2)
    val withStats = rows(FullText.searchTf(tf, Seq("spark", "fast"),
                                           stats = Some(incStats)))
    assert(withStats == bat, s"appendTfStats drifted: $withStats != $bat")
    // an empty query returns no hits (and must not throw on the empty
    // term-condition reduce)
    assert(FullText.searchTf(tf, Seq.empty).isEmpty)
    assert(FullText.search(FullText.buildIndex(all), Seq.empty).isEmpty)
  }

  test("full-text analyzers: stopwords, unicode scripts, CJK bigrams") {
    import graft.search.FullText
    import org.apache.spark.sql.Encoders
    val df = spark.createDataset(Seq(
      ("d1", "The spark of an engine"),
      ("d2", "молния и гроза"),       // cyrillic survives unicode analyzer
      ("d3", "数据处理 spark")        // han run bigrams + latin token
    ))(Encoders.product[(String, String)]).toDF("doc", "text")
    def toks(a: FullText.Analyzer) = df
      .select(col("doc"), FullText.tokens(col("text"), a).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // english: stopwords dropped
    val en = toks(FullText.Analyzer.english)
    assert(en("d1") == Seq("spark", "engine"))
    // ascii default: non-latin text dissolves entirely
    assert(toks(FullText.Analyzer.default)("d2").isEmpty)
    // unicode: cyrillic tokens survive
    assert(toks(FullText.Analyzer.unicode)("d2") == Seq("молния", "и", "гроза"))
    // cjk: han run becomes overlapping bigrams, latin token passes through
    assert(toks(FullText.Analyzer.cjk)("d3") == Seq("数据", "据处", "处理", "spark"))
    // an index built with a custom analyzer searches consistently
    val idx = FullText.buildIndex(df, FullText.Analyzer.unicode)
    val hits = FullText.search(idx, Seq("гроза"))
      .select("doc").collect().map(_.getString(0)).toSeq
    assert(hits == Seq("d2"))
  }

  test("per-language analyzer selection: forLang registry + tokensByLang chain") {
    import graft.search.FullText
    import org.apache.spark.sql.Encoders
    // registry selection with region/ISO-639-3 normalization
    assert(FullText.Analyzer.forLang("en") == FullText.Analyzer.byLang("en"))
    assert(FullText.Analyzer.forLang("en-US") == FullText.Analyzer.byLang("en"))
    assert(FullText.Analyzer.forLang("eng") == FullText.Analyzer.byLang("en"))
    assert(FullText.Analyzer.forLang("zho") == FullText.Analyzer.cjk)
    assert(FullText.Analyzer.forLang("ru") == FullText.Analyzer.russian)
    assert(FullText.Analyzer.forLang("fi") == FullText.Analyzer.unicode)
    assert(FullText.Analyzer.forLang(null) == FullText.Analyzer.unicode)
    // one corpus, three languages, one pass: each row analyzed per its tag
    val df = spark.createDataset(Seq(
      ("d1", "en", "the sparks of engines"),   // stopword + plural stem
      ("d2", "de", "der Funke und die Maschine"),
      ("d3", "zh", "数据处理 engine"),
      ("d4", "fi", "salama ja ukkonen")        // unregistered → unicode
    ))(Encoders.product[(String, String, String)]).toDF("doc", "lang", "text")
    val toks = df.select(col("doc"),
        FullText.tokensByLang(col("text"), col("lang")).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(toks("d1") == Seq("spark", "engine"))          // stemmed, stopped
    assert(toks("d2") == Seq("funk", "maschin"))          // stopped + stemmed
    assert(toks("d3") == Seq("数据", "据处", "处理", "engine")) // bigrams
    assert(toks("d4") == Seq("salama", "ja", "ukkonen"))  // unicode fallback
    // the by-lang index searches across languages with one posting store
    val idx = FullText.buildIndexByLang(df)
    val hits = FullText.search(idx, Seq("engine"))
      .select("doc").collect().map(_.getString(0)).toSeq.sorted
    assert(hits == Seq("d1", "d3"))
  }

  test("analyzer registry depth: minimal stemmers for pt/it/nl/ru/cs/el + thai bigrams") {
    import graft.search.FullText
    import org.apache.spark.sql.Encoders
    val df = spark.createDataset(Seq(
      ("pt", "as canções e os animais"),   // ções→ção, plural s
      ("it", "le stazioni e i libri"),     // zione→zion (via plural i), i→
      ("nl", "de boeken en de fietsen"),   // -en stripped
      ("ru", "молнии и грозами"),          // и/ами endings stripped
      ("cs", "hrady a zahradami"),         // y/ami endings stripped
      ("el", "οι θάλασσες και τα σπίτια"), // ες/α endings stripped
      ("th", "แม่น้ำ and rivers")          // thai run → bigrams
    ))(Encoders.product[(String, String)]).toDF("lang", "text")
    val toks = df.select(col("lang"),
        FullText.tokensByLang(col("text"), col("lang")).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(toks("pt") == Seq("canção", "animai"))
    assert(toks("it") == Seq("stazion", "libr"))
    assert(toks("nl") == Seq("boek", "fiets"))
    assert(toks("ru") == Seq("молни", "гроз"))
    assert(toks("cs") == Seq("hrad", "zahrad"))
    // greek folds accents (GreekLowerCaseFilter) before stemming
    assert(toks("el") == Seq("θαλασσ", "σπιτ"))
    // thai: the script run shingles into overlapping bigrams, the latin
    // tokens analyze normally (stopwordless unicode side)
    assert(toks("th").contains("rivers") && toks("th").exists(_.length == 2))
  }

  test("snowball-grade stemming: de/fr/ru inflected forms share one stem") {
    import graft.search.FullText
    import org.apache.spark.sql.Encoders
    // every group is one lemma in several natural inflections; recall
    // requires the analyzer to map ALL of them to the SAME stem (what the
    // reference's Lucene German/French/RussianAnalyzers deliver and a
    // plural-only stemmer does not)
    val groups: Seq[(String, Seq[String], String)] = Seq(
      // German: case/number endings, derivational keit/ung, umlaut + ß folds
      ("de", Seq("Kind", "Kindes", "Kindern", "Kinder"), "kind"),
      ("de", Seq("Abteilungen", "Abteilung"), "abteil"),
      ("de", Seq("freundlich", "freundliches", "Freundlichkeit"), "freund"),
      ("de", Seq("Fähigkeit", "Fähigkeiten"), "fahig"),
      ("de", Seq("Haus", "Häuser"), "haus"),
      ("de", Seq("Straße", "Straßen"), "strass"),
      // French: participle/infinitive endings, ation, eux/euse merge
      ("fr", Seq("manger", "mangé", "mangée", "mangés", "mangées"), "mang"),
      ("fr", Seq("communication", "communications"), "communic"),
      ("fr", Seq("nationaux", "national"), "national"),
      ("fr", Seq("heureux", "heureuse", "heureuses"), "heureu"),
      // Russian: noun cases, reflexive verb forms, adjective endings
      ("ru", Seq("книга", "книги", "книгу", "книгами"), "книг"),
      ("ru", Seq("делается", "делалось", "делать"), "дела"),
      ("ru", Seq("красивый", "красивая", "красивое", "красивые"), "красив"),
      // Spanish: gendered plurals, verb endings, derivational miento/idad
      ("es", Seq("libro", "libros"), "libr"),
      ("es", Seq("hablar", "hablaron", "hablando", "habla"), "habl"),
      ("es", Seq("pensamiento", "pensamientos"), "pens"),
      ("es", Seq("realidad", "realidades"), "real"),
      // Portuguese / Italian / Dutch at the same grade
      ("pt", Seq("pensamento", "pensamentos"), "pens"),
      ("pt", Seq("cantar", "cantando", "canta"), "cant"),
      ("it", Seq("stazione", "stazioni"), "stazion"),
      ("it", Seq("parlare", "parlando", "parla"), "parl"),
      ("nl", Seq("mogelijkheid", "mogelijkheden"), "mogelijkheid"),
      ("nl", Seq("regering", "regeringen"), "regering"),
      ("nl", Seq("kinderen", "kind"), "kind"),
      // Czech: case endings, possessives, palatalization (CzechStemmer)
      ("cs", Seq("hrad", "hrady", "hradech", "hradům"), "hrad"),
      ("cs", Seq("zahrada", "zahrady", "zahradami", "zahradách"), "zahrad"),
      ("cs", Seq("student", "studentův", "studentovi"), "student"),
      ("cs", Seq("babička", "babičce"), "babičk"),
      // Greek: accent folds + case endings, -ματα family, verb endings
      ("el", Seq("θάλασσα", "θάλασσες", "θαλάσσης"), "θαλασσ"),
      ("el", Seq("σπίτι", "σπίτια", "σπιτιών"), "σπιτ"),
      ("el", Seq("μάθημα", "μαθήματα", "μαθημάτων"), "μαθημ"),
      ("el", Seq("γράφω", "γράφεις", "γράφουμε", "γράφουν"), "γραφ"))
    val rows = groups.zipWithIndex.flatMap { case ((lang, forms, _), i) =>
      forms.map(f => (s"g$i", lang, f))
    }
    val df = spark.createDataset(rows)(
      Encoders.product[(String, String, String)]).toDF("g", "lang", "text")
    val got = df.select(col("g"), col("text"),
        FullText.tokensByLang(col("text"), col("lang")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getSeq[String](2)))
    groups.zipWithIndex.foreach { case ((lang, forms, stem), i) =>
      got.filter(_._1 == s"g$i").foreach { case (_, form, toks) =>
        assert(toks == Seq(stem),
          s"[$lang] '$form' stemmed to $toks, expected '$stem'")
      }
    }
  }

  test("frame sampling: stride windows with deterministic features") {
    val docs = Tables.load(spark, sfDir, "documents").limit(5)
    val frames = graft.pipeline.Multimodal.sampleVideoFrames(spark, docs, stride = 4)
    assert(frames.count() >= 5)
    val f = frames.filter(col("frame_idx") === 0).count()
    assert(f == 5) // every doc has frame 0
    // deterministic across runs
    val again = graft.pipeline.Multimodal.sampleVideoFrames(spark, docs, stride = 4)
    assert(frames.except(again).isEmpty)
  }

  test("incremental path closure on edge insert equals recompute") {
    import graft.sparql.Paths
    def edges(pairs: (String, String)*): DataFrame =
      parse(pairs.map { case (a, b) => s"<${EX}$a> <${EX}next> <${EX}$b> ." })
        .select(col("s").as("src"), col("o").as("dst"))
    val base = edges("a" -> "b", "b" -> "c")
    val closed = Paths.transitiveClosure(base)
    // new edge c->d connects the chain; and an isolated e->f
    val delta = edges("c" -> "d", "e" -> "f")
    val inc = Paths.closureWithDelta(closed, delta)
    val full = Paths.transitiveClosure(base.unionByName(delta))
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty)
    assert(inc.count() == 7) // ab ac ad bc bd cd ef
  }

  test("incremental closure: a bulk-inserted 100-edge chain fully closes") {
    import graft.sparql.Paths
    // the delta rounds compose new-path deltas with the accumulating
    // closure, so new-edge chains double per round like the base loop —
    // a 100-hop bulk insert must close completely (log rounds), not stop
    // at an iteration bound
    def edge(a: String, b: String): String =
      s"<${EX}$a> <${EX}next> <${EX}$b> ."
    val base = parse(Seq(edge("x", "y")))
      .select(col("s").as("src"), col("o").as("dst"))
    val delta = parse((1 to 100).map(i => edge(s"a$i", s"a${i + 1}")))
      .select(col("s").as("src"), col("o").as("dst"))
    val inc = Paths.closureWithDelta(Paths.transitiveClosure(base), delta)
    // x->y plus all ordered pairs of the 101-node chain
    assert(inc.count() == 1L + 100L * 101L / 2)
  }

  test("CONTEXTS enumerates named graphs") {
    val g1 = Term.iri(EX + "g1")
    val base = parse(Seq(s"<${EX}a> <${EX}p> <${EX}b> ."))
    val withNamed = QuadStore.insert(base, base.withColumn("c", g1))
    val ctxs = QuadStore.contexts(withNamed).collect()
    assert(ctxs.length == 1 && ctxs(0).getStruct(0).getString(1) == EX + "g1")
  }

  test("ESTCARD fast cardinality for as-bound patterns") {
    val quads = parse(Seq(
      s"<${EX}a> <${EX}p> <${EX}b> .",
      s"<${EX}c> <${EX}p> <${EX}b> .",
      s"<${EX}a> <${EX}q> <${EX}d> ."))
    assert(QuadStore.estcard(quads) == 3)
    assert(QuadStore.estcard(quads, p = Some(Term.iri(EX + "p"))) == 2)
    assert(QuadStore.estcard(quads, s = Some(Term.iri(EX + "a")),
                             p = Some(Term.iri(EX + "q"))) == 1)
  }

  test("queries over an empty store behave (no crash, empty results)") {
    val empty = parse(Seq.empty)
    val df = Parser.select(spark, empty,
      s"PREFIX ex: <$EX> SELECT ?x WHERE { ?x ex:p ?y . FILTER(?y > 1) }")
    assert(df.isEmpty)
    assert(!Parser.ask(spark, empty, s"ASK {<${EX}a> <${EX}p> <${EX}b>}"))
    assert(RDFS.closure(empty).count() == 0)
  }

  test("BGP ordering: most-bound pattern first, connectivity preserved") {
    val quads = parse(Seq(
      s"<${EX}a> <${EX}p> <${EX}b> .",
      s"<${EX}b> <${EX}q> <${EX}c> ."))
    // patterns given in worst order: unbound first, constant-rich last
    val q = Bgp(Seq(
      TriplePattern(V("x"), V("pp"), V("y")),
      TriplePattern(V("y"), C(Term.iri(EX + "q")), C(Term.iri(EX + "c")))))
    val res = Translator.translate(quads, q)
    assert(res.df.count() == 1) // correctness independent of order
  }

  test("RTO sampled join ordering matches static-order results") {
    // skewed store: many 'common' triples, one 'rare' — the sampled
    // optimizer must rank the rare pattern first, and results must agree
    // with the static path exactly
    val nt = (1 to 200).map(i => s"<${EX}e$i> <${EX}common> <${EX}hub> .") ++
      Seq(s"<${EX}e7> <${EX}rare> <${EX}gem> .",
          s"<${EX}gem> <${EX}label> <${EX}shiny> .")
    val quads = parse(nt)
    val q = Bgp(Seq(
      TriplePattern(V("x"), C(Term.iri(EX + "common")), V("h")),
      TriplePattern(V("x"), C(Term.iri(EX + "rare")), V("g")),
      TriplePattern(V("g"), C(Term.iri(EX + "label")), V("l"))))
    // column order follows join order, so fix the projection before except
    val cols = Seq("x", "h", "g", "l").map(col)
    val static_ = Translator.translate(quads, q).df.select(cols: _*)
    val sampled = Translator.translateSampled(quads, q, fraction = 1.0).df.select(cols: _*)
    assert(sampled.count() == 1)
    assert(sampled.except(static_).isEmpty && static_.except(sampled).isEmpty)
  }
}
