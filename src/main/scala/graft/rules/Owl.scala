package graft.rules

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.rdf.Term
import graft.util.{Bounded, Fixpoint}

/** OWL property-axiom rules on top of the RDFS rule set — the subset the
  * reference's full-closure program covers beyond RDFS
  * (/root/reference/bigdata-rdf/src/java/com/bigdata/rdf/inf/ — rules
  * RuleOwlInverseOf, RuleOwlTransitiveProperty1/2, RuleOwlSymmetricProperty;
  * owl:sameAs lives separately in `OwlSameAs`):
  *
  *   owl:inverseOf          (p owl:inverseOf q), (s p o) → (o q s)   [both ways]
  *   owl:SymmetricProperty  (p a owl:SymmetricProperty), (s p o) → (o p s)
  *   owl:TransitiveProperty (p a owl:TransitiveProperty), (s p o), (o p u) → (s p u)
  *
  * These rules feed each other AND the RDFS rules (an inverse edge can
  * trigger domain typing, a subPropertyOf edge can create transitive
  * facts), so the combined closure runs as one semi-naive fixpoint over
  * the union of both rule rounds — exactly why the reference's fast
  * closure defers these to its fixpoint section.
  *
  * Scale posture: schema premises (inverseOf pairs, property typings) are
  * broadcast; per-round work is delta-proportional; transitive chains
  * close in O(closure-size) rounds of hash joins, and every round is
  * checkpointed via `Fixpoint` so lineage stays O(1).
  */
object Owl {

  private val OwlNs = "http://www.w3.org/2002/07/owl#"
  val InverseOf = OwlNs + "inverseOf"
  val TransitiveProperty = OwlNs + "TransitiveProperty"
  val SymmetricProperty = OwlNs + "SymmetricProperty"
  val FunctionalProperty = OwlNs + "FunctionalProperty"
  val InverseFunctionalProperty = OwlNs + "InverseFunctionalProperty"
  val EquivalentClass = OwlNs + "equivalentClass"
  val EquivalentProperty = OwlNs + "equivalentProperty"
  val Restriction = OwlNs + "Restriction"
  val OnProperty = OwlNs + "onProperty"
  val HasValue = OwlNs + "hasValue"

  private def p(name: String) = Term.iri(name)

  private def sel(df: DataFrame, pred: String) = df.filter(col("p") === p(pred))
  private def typedProps(df: DataFrame, cls: String) =
    df.filter(col("p") === p(RDFS.RdfType) && col("o") === p(cls))
      .select(col("s").as("prop"))

  /** owl:inverseOf round, applied in both directions of the axiom. */
  private def invRound(all: DataFrame, delta: DataFrame): DataFrame = {
    def apply1(facts: DataFrame, schema: DataFrame) = {
      val h = sel(schema, InverseOf).select(col("s").as("hp"), col("o").as("hq"))
      val fwd = facts.as("f")
        .join(broadcast(h), col("f.p") === col("hp"))
        .select(col("f.o").as("s"), col("hq").as("p"), col("f.s").as("o"))
      val bwd = facts.as("f")
        .join(broadcast(h), col("f.p") === col("hq"))
        .select(col("f.o").as("s"), col("hp").as("p"), col("f.s").as("o"))
      fwd.unionByName(bwd)
    }
    apply1(delta, all).unionByName(apply1(all, delta))
  }

  /** owl:SymmetricProperty round. */
  private def symRound(all: DataFrame, delta: DataFrame): DataFrame = {
    def apply1(facts: DataFrame, schema: DataFrame) =
      facts.as("f")
        .join(broadcast(typedProps(schema, SymmetricProperty)),
              col("f.p") === col("prop"))
        .select(col("f.o").as("s"), col("f.p").as("p"), col("f.s").as("o"))
    apply1(delta, all).unionByName(apply1(all, delta))
  }

  /** owl:TransitiveProperty round: one variant per premise position. */
  private def transRound(all: DataFrame, delta: DataFrame): DataFrame = {
    def apply1(l: DataFrame, r: DataFrame, schema: DataFrame) = {
      val props = typedProps(schema, TransitiveProperty)
      l.as("a")
        .join(broadcast(props), col("a.p") === col("prop"))
        .join(r.as("b"), col("a.p") === col("b.p") && col("a.o") === col("b.s"))
        .select(col("a.s").as("s"), col("a.p").as("p"), col("b.o").as("o"))
    }
    apply1(delta, all, all).unionByName(apply1(all, delta, all))
      .unionByName(apply1(all, all, delta))
  }

  /** owl:FunctionalProperty / owl:InverseFunctionalProperty → owl:sameAs:
    * (p a FunctionalProperty), (s p o1), (s p o2) → (o1 sameAs o2);
    * the inverse-functional form equates SUBJECTS sharing (p, o). Emitted
    * sameAs triples then feed `OwlSameAs.canonicalMap/canonicalize`.
    */
  private def funcRound(all: DataFrame, delta: DataFrame): DataFrame = {
    def pairs(facts1: DataFrame, facts2: DataFrame, schema: DataFrame,
              cls: String, bySubject: Boolean) = {
      val (key, out) = if (bySubject) ("s", "o") else ("o", "s")
      facts1.as("a")
        .join(broadcast(typedProps(schema, cls)), col("a.p") === col("prop"))
        .join(facts2.as("b"),
              col("a.p") === col("b.p") && col(s"a.$key") === col(s"b.$key") &&
              !(col(s"a.$out") <=> col(s"b.$out")))
        .select(col(s"a.$out").as("s"), p(SameAsIri).as("p"), col(s"b.$out").as("o"))
    }
    Seq(
      pairs(delta, all, all, FunctionalProperty, bySubject = true),
      pairs(all, delta, all, FunctionalProperty, bySubject = true),
      pairs(all, all, delta, FunctionalProperty, bySubject = true),
      pairs(delta, all, all, InverseFunctionalProperty, bySubject = false),
      pairs(all, delta, all, InverseFunctionalProperty, bySubject = false),
      pairs(all, all, delta, InverseFunctionalProperty, bySubject = false)
    ).reduce(_ unionByName _)
  }

  /** owl:equivalentClass / owl:equivalentProperty round: symmetry (the
    * reference's RuleOwlEquivalentClass/Property heads) plus membership /
    * statement propagation (OWL-RL cax-eqc1/2, prp-eqp1/2 — what makes the
    * axioms observable in query answers):
    *
    *   (a eqc b) → (b eqc a);  (x type a), (a eqc b) → (x type b)
    *   (p eqp q) → (q eqp p);  (s p o), (p eqp q) → (s q o)
    */
  private def equivRound(all: DataFrame, delta: DataFrame): DataFrame = {
    def symm(facts: DataFrame, pred: String) =
      sel(facts, pred).select(col("o").as("s"), col("p"), col("s").as("o"))
    def member(facts: DataFrame, schema: DataFrame) = {
      val eq = sel(schema, EquivalentClass)
        .select(col("s").as("c1"), col("o").as("c2"))
      facts.filter(col("p") === p(RDFS.RdfType)).as("f")
        .join(broadcast(eq), col("f.o") === col("c1"))
        .select(col("f.s").as("s"), p(RDFS.RdfType).as("p"), col("c2").as("o"))
    }
    def stmt(facts: DataFrame, schema: DataFrame) = {
      val eq = sel(schema, EquivalentProperty)
        .select(col("s").as("p1"), col("o").as("p2"))
      facts.as("f")
        .join(broadcast(eq), col("f.p") === col("p1"))
        .select(col("f.s").as("s"), col("p2").as("p"), col("f.o").as("o"))
    }
    Seq(symm(delta, EquivalentClass), symm(delta, EquivalentProperty),
        member(delta, all), member(all, delta),
        stmt(delta, all), stmt(all, delta))
      .reduce(_ unionByName _)
  }

  /** owl:hasValue round (the reference's RuleOwlHasValue direction):
    *   (x type a), (a type Restriction), (a onProperty p'), (a hasValue v)
    *   → (x p' v)
    */
  private def hasValueRound(all: DataFrame, delta: DataFrame): DataFrame = {
    def restr(onProp: DataFrame, hasVal: DataFrame, typeR: DataFrame) = {
      val r1 = sel(onProp, OnProperty).select(col("s").as("r"), col("o").as("rp"))
      val r2 = sel(hasVal, HasValue).select(col("s").as("r2"), col("o").as("rv"))
      val r3 = typeR.filter(col("p") === p(RDFS.RdfType) && col("o") === p(Restriction))
        .select(col("s").as("r3"))
      r1.join(r2, col("r") === col("r2")).join(r3, col("r") === col("r3"))
        .select(col("r"), col("rp"), col("rv"))
    }
    def fwd(facts: DataFrame, schema: DataFrame) =
      facts.filter(col("p") === p(RDFS.RdfType)).as("f")
        .join(broadcast(schema), col("f.o") === col("r"))
        .select(col("f.s").as("s"), col("rp").as("p"), col("rv").as("o"))
    Seq(
      fwd(delta, restr(all, all, all)),
      fwd(all, restr(delta, all, all)),
      fwd(all, restr(all, delta, all)),
      fwd(all, restr(all, all, delta))
    ).reduce(_ unionByName _)
  }

  private val SameAsIri = OwlSameAs.SameAs

  /** Fact-count bound under which the (non-RDFS) OWL fixpoint runs as one
    * driver pass over the collected ACTIVE subset (see
    * [[graft.util.Bounded]]) instead of semi-naive rounds of up to ~19
    * join branches each, and the derived-fact cap past which that pass
    * aborts to the distributed loop. Same rule set, same round structure,
    * set semantics: the result is identical.
    */
  val OwlLocalMaxFactsConf = "spark.graft.owlLocalMaxFacts"
  val OwlLocalMaxFactsDefault = 1000000L
  val OwlLocalMaxDerived = 4000000L

  /** One OWL rule round: consequences with ≥1 premise in `delta`. */
  private[rules] def round(all: DataFrame, delta: DataFrame): DataFrame =
    Seq(invRound(all, delta), symRound(all, delta), transRound(all, delta),
        funcRound(all, delta), equivRound(all, delta), hasValueRound(all, delta))
      .reduce(_ unionByName _).distinct()

  /** Combined RDFS + OWL-property closure of the default graph.
    *
    * The rule program is COMPILED against the axioms actually present
    * (one count aggregation up front): rules whose schema premise is empty
    * never enter the fixpoint — the reference's closure program does the
    * same (its rule list depends on the ontology), and with e.g. only a
    * TransitiveProperty axiom the round shrinks from 19 join branches to 3.
    */
  def closure(quads: DataFrame, maxIters: Int = 32): DataFrame = {
    // Checkpointed ONCE but NOT distinct'd: every exit below either dedups
    // at its output (the final union+distinct) or flows through
    // Fixpoint.semiNaive, whose seed union+distinct dedups the init frame —
    // so the store-wide distinct SHUFFLE this used to pay up front was dead
    // weight. The checkpoint itself stays: three consumers scan the frame
    // (the bounded schema/active collects — whose CollectLimit ramp re-runs
    // its child once per wave — and the inert side of the final union), and
    // the quad source may be an unmaterialized union of computed frames.
    val triples = Fixpoint.materialize(
      quads.filter(col("c").isNull).select("s", "p", "o"))
    val isType = col("p") === p(RDFS.RdfType)
    val isSchema = col("p") === p(InverseOf) || col("p") === p(EquivalentClass) ||
      col("p") === p(EquivalentProperty) || col("p") === p(OnProperty) ||
      col("p") === p(HasValue) || col("p") === p(RDFS.SubPropertyOf) ||
      col("p") === p(RDFS.SubClassOf) || col("p") === p(RDFS.Domain) ||
      col("p") === p(RDFS.Range)
    val axiomTyped = isType &&
      (col("o") === p(SymmetricProperty) || col("o") === p(TransitiveProperty) ||
       col("o") === p(FunctionalProperty) || col("o") === p(InverseFunctionalProperty))
    // ONE bounded schema scan replaces the axiom-presence aggregate AND the
    // axiom-property lex scan (two further store-sized jobs before): the
    // schema/axiom statements are schema-sized by assumption, guarded
    // against an adversarial store-sized axiom set — past the guard the
    // code falls back to the unfiltered fixpoint, exactly the old
    // axiomProps-returns-None behavior.
    val axiomGuard = 100000
    val schema =
      Bounded.collect(triples.filter(isSchema || axiomTyped), axiomGuard)
    val overflow = schema.isEmpty
    val schemaRows = schema.getOrElse(Array.empty[Row])
    def anyRow(f: Row => Boolean): Boolean = schemaRows.exists(f)
    def pIs(r: Row, iri: String): Boolean = isIriVal(r.get(1), iri)
    def typedAs(r: Row, cls: String): Boolean =
      pIs(r, RDFS.RdfType) && isIriVal(r.get(2), cls)
    // rule flags: from the collected rows when complete; from the exact
    // (store-sized) aggregate when the guard tripped — a truncated sample
    // must never silently drop a rule from the program
    val (invOn, symOn, transOn, rdfsOn, funcOn, equivOn, hasvalOn) =
      if (!overflow)
        (anyRow(pIs(_, InverseOf)),
         anyRow(typedAs(_, SymmetricProperty)),
         anyRow(typedAs(_, TransitiveProperty)),
         anyRow(r => pIs(r, RDFS.SubPropertyOf) || pIs(r, RDFS.SubClassOf) ||
                     pIs(r, RDFS.Domain) || pIs(r, RDFS.Range)),
         anyRow(r => typedAs(r, FunctionalProperty) ||
                     typedAs(r, InverseFunctionalProperty)),
         anyRow(r => pIs(r, EquivalentClass) || pIs(r, EquivalentProperty)),
         anyRow(pIs(_, HasValue)))
      else {
        def cnt(cond: org.apache.spark.sql.Column) =
          sum(when(cond, 1L).otherwise(0L))
        val pr = triples.agg(
          cnt(col("p") === p(InverseOf)),
          cnt(isType && col("o") === p(SymmetricProperty)),
          cnt(isType && col("o") === p(TransitiveProperty)),
          cnt(col("p") === p(RDFS.SubPropertyOf) || col("p") === p(RDFS.SubClassOf) ||
              col("p") === p(RDFS.Domain) || col("p") === p(RDFS.Range)),
          cnt(isType && (col("o") === p(FunctionalProperty) ||
                         col("o") === p(InverseFunctionalProperty))),
          cnt(col("p") === p(EquivalentClass) ||
              col("p") === p(EquivalentProperty)),
          cnt(col("p") === p(HasValue))).head()
        (pr.getLong(0) > 0, pr.getLong(1) > 0, pr.getLong(2) > 0,
         pr.getLong(3) > 0, pr.getLong(4) > 0, pr.getLong(5) > 0,
         pr.getLong(6) > 0)
      }
    val rounds: Seq[(DataFrame, DataFrame) => DataFrame] =
      (if (rdfsOn) Seq(RDFS.round _) else Nil) ++
      (if (invOn) Seq(invRound _) else Nil) ++
      (if (symOn) Seq(symRound _) else Nil) ++
      (if (transOn) Seq(transRound _) else Nil) ++
      (if (funcOn) Seq(funcRound _) else Nil) ++
      (if (equivOn) Seq(equivRound _) else Nil) ++
      (if (hasvalOn) Seq(hasValueRound _) else Nil)
    if (rounds.isEmpty)
      return triples.distinct().withColumn("c", Term.unbound)
    def fix(facts: DataFrame): DataFrame = {
      Bounded.note("owl", "distributed")
      Fixpoint.semiNaive(facts, maxIters) { (all, delta) =>
        rounds.map(r => r(all, delta)).reduce(_ unionByName _).distinct()
      }
    }
    // Narrow the fixpoint to the ACTIVE subset — facts that can ever fire
    // a compiled premise. Without the RDFS round (whose domain/range rules
    // make every statement a premise), those are: rdf:type facts, schema
    // statements, and facts whose predicate an axiom names. Everything
    // else is inert and unions back after the fixpoint, instead of paying
    // the per-round distinct/except shuffles over the whole store (at
    // sf0.1 this cut the equivalence-closure build from 129s to the cost
    // of the ~10x-smaller active set). The reference's rule programs scope
    // the same way: each rule's access paths bind to its axiom constants.
    if (rdfsOn || overflow)
      return fix(triples).withColumn("c", Term.unbound)
    // the axiom-property scope, straight off the collected schema rows
    // (same definition as the distributed axiomProps below)
    val props = localAxiomProps(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(schemaRows))
    def axiomProps(df: DataFrame): Option[Set[String]] = {
      val fromPairs = df
        .filter(col("p") === p(InverseOf) || col("p") === p(EquivalentProperty))
      val lexes = fromPairs.select(Term.lex(col("s")).as("l"))
        .unionByName(fromPairs.select(Term.lex(col("o")).as("l")))
        .unionByName(df.filter(axiomTyped).select(Term.lex(col("s")).as("l")))
        .unionByName(df.filter(col("p") === p(OnProperty))
          .select(Term.lex(col("o")).as("l")))
      Bounded.collect(lexes.distinct(), axiomGuard)
        .map(_.map(_.getString(0)).toSet)
    }
    val isActive = isSchema || isType ||
      (if (props.isEmpty) lit(false) else Term.lex(col("p")).isin(props.toSeq: _*))
    val active = triples.filter(isActive)
    val spark = quads.sparkSession
    val bound = Bounded.bound(spark, OwlLocalMaxFactsConf, OwlLocalMaxFactsDefault)
    // metamodeling safety: if the fixpoint derived an axiom over a property
    // the static scope missed (e.g. a property equivalent to owl:
    // equivalentProperty deriving new schema), previously-inert facts could
    // become premises — redo unfiltered. Never fires on real ontologies.
    // The local pass declines such a result, as it declines a derived-fact
    // cap hit, and the distributed path decides again. One final distinct
    // (a derived fact can coincide with an inert base fact, e.g. an
    // asserted sameAs the functional rule re-derives) — one full-store
    // shuffle instead of one per round.
    Bounded.choose("owl", Bounded.collect(active, bound)) { sample =>
      localClosure(sample, maxIters,
          inv = invOn, sym = symOn, trans = transOn, func = funcOn,
          equiv = equivOn, hasval = hasvalOn)
        .filter(localAxiomProps(_).subsetOf(props))
        .map { closedRows =>
          val closedDf = spark.createDataFrame(
            spark.sparkContext.parallelize(closedRows), active.schema)
          triples.filter(!isActive).unionByName(closedDf).distinct()
        }
    } {
      val closedActive = fix(active)
      if (axiomProps(closedActive).exists(_.subsetOf(props)))
        triples.filter(!isActive).unionByName(closedActive).distinct()
      else fix(triples)
    }.withColumn("c", Term.unbound)
  }

  // ------------------------------------------------------------------
  // Driver-local semi-naive fixpoint over the collected active subset.
  // Facts are (s, p, o) with term-struct endpoints compared by Row value
  // equality (the localBfsClosure precedent). The round structure is
  // EXACTLY the distributed one — each round derives every consequence
  // with ≥1 premise in the delta, per compiled rule, under set semantics —
  // so the per-round fact sets (and therefore the result, even at the
  // maxIters cap) are identical to the scheduled fixpoint's.
  // ------------------------------------------------------------------

  private final case class Fact(s: Any, p: Any, o: Any)

  private def iriVal(lex: String): Row =
    Row(0.toByte, lex, null, null, null)

  /** Is this term-struct value the IRI `iri`? (kind 0, matching lex). */
  private def isIriVal(t: Any, iri: String): Boolean = t match {
    case r: Row => !r.isNullAt(0) && r.getByte(0) == 0.toByte &&
      iri == r.getString(1)
    case _ => false
  }

  private def each[A](l: java.util.ArrayList[A])(f: A => Unit): Unit =
    if (l != null) { var i = 0; while (i < l.size()) { f(l.get(i)); i += 1 } }

  private def add[K, A](m: java.util.HashMap[K, java.util.ArrayList[A]],
                        k: K, v: A): Unit =
    m.computeIfAbsent(k, _ => new java.util.ArrayList[A]()).add(v)

  /** Lex of a term struct (Term.lex's field layout: index 1). */
  private def lexOf(t: Any): String = t match {
    case r: Row => r.getString(1)
    case _ => null
  }

  /** Axiom-property lexes of a closed local fact set — the same scope
    * definition as [[closure]]'s axiomProps, for the metamodeling check.
    */
  private def localAxiomProps(facts: IndexedSeq[Row]): Set[String] = {
    val typeR = iriVal(RDFS.RdfType)
    val invR = iriVal(InverseOf)
    val eqpR = iriVal(EquivalentProperty)
    val onPropR = iriVal(OnProperty)
    val symR = iriVal(SymmetricProperty)
    val transR = iriVal(TransitiveProperty)
    val funcR = iriVal(FunctionalProperty)
    val invFuncR = iriVal(InverseFunctionalProperty)
    val out = scala.collection.mutable.Set.empty[String]
    facts.foreach { f =>
      val (s, p, o) = (f.get(0), f.get(1), f.get(2))
      if (p == invR || p == eqpR) { out += lexOf(s); out += lexOf(o) }
      if (p == typeR &&
          (o == symR || o == transR || o == funcR || o == invFuncR))
        out += lexOf(s)
      if (p == onPropR) out += lexOf(o)
    }
    out.toSet
  }

  /** The driver fixpoint. Returns None when the derived-fact count passes
    * [[OwlLocalMaxDerived]] (the caller falls back to the distributed
    * loop); otherwise the closed active fact set as Rows.
    */
  private def localClosure(init: Array[Row], maxIters: Int,
                           inv: Boolean, sym: Boolean, trans: Boolean,
                           func: Boolean, equiv: Boolean, hasval: Boolean)
      : Option[IndexedSeq[Row]] = {
    val typeR = iriVal(RDFS.RdfType)
    val sameAsR = iriVal(SameAsIri)
    val invR = iriVal(InverseOf)
    val symR = iriVal(SymmetricProperty)
    val transR = iriVal(TransitiveProperty)
    val funcR = iriVal(FunctionalProperty)
    val invFuncR = iriVal(InverseFunctionalProperty)
    val eqcR = iriVal(EquivalentClass)
    val eqpR = iriVal(EquivalentProperty)
    val restrR = iriVal(Restriction)
    val onPropR = iriVal(OnProperty)
    val hasValR = iriVal(HasValue)

    val all = new java.util.HashSet[Fact]()
    val byP = new java.util.HashMap[Any, java.util.ArrayList[Fact]]()
    val typeByO = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val psIdx = new java.util.HashMap[(Any, Any), java.util.ArrayList[Any]]()
    val poIdx = new java.util.HashMap[(Any, Any), java.util.ArrayList[Any]]()
    // dynamic schema indexes — premises read from `all` each round, exactly
    // like the distributed rules' typedProps(all, ...)/sel(all, ...)
    val invByP = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val invByQ = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val symProps = new java.util.HashSet[Any]()
    val transProps = new java.util.HashSet[Any]()
    val funcProps = new java.util.HashSet[Any]()
    val invFuncProps = new java.util.HashSet[Any]()
    val eqcByC1 = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val eqpByP1 = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val onPropByR = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val hasValByR = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    val restrTyped = new java.util.HashSet[Any]()
    // materialized restriction table (r, rp, rv), maintained semi-naively
    val rRows = new java.util.HashSet[(Any, Any, Any)]()
    val rByClass = new java.util.HashMap[Any, java.util.ArrayList[(Any, Any)]]()

    def insert(f: Fact): Unit = {
      all.add(f)
      add(byP, f.p, f)
      add(psIdx, (f.p, f.s), f.o)
      add(poIdx, (f.p, f.o), f.s)
      if (f.p == typeR) {
        add(typeByO, f.o, f.s)
        if (f.o == symR) symProps.add(f.s)
        else if (f.o == transR) transProps.add(f.s)
        else if (f.o == funcR) funcProps.add(f.s)
        else if (f.o == invFuncR) invFuncProps.add(f.s)
        else if (f.o == restrR) restrTyped.add(f.s)
      }
      else if (f.p == invR) { add(invByP, f.s, f.o); add(invByQ, f.o, f.s) }
      else if (f.p == eqcR) add(eqcByC1, f.s, f.o)
      else if (f.p == eqpR) add(eqpByP1, f.s, f.o)
      else if (f.p == onPropR) add(onPropByR, f.s, f.o)
      else if (f.p == hasValR) add(hasValByR, f.s, f.o)
    }

    var delta = new scala.collection.mutable.ArrayBuffer[Fact](init.length)
    val seen0 = new java.util.HashSet[Fact]()
    init.foreach { r =>
      val f = Fact(r.get(0), r.get(1), r.get(2))
      if (seen0.add(f)) delta += f // activeM is distinct, but stay defensive
    }
    delta.foreach(insert)

    var iter = 0
    while (iter < maxIters && delta.nonEmpty) {
      val freshSet = new java.util.HashSet[Fact]()
      val fresh = new scala.collection.mutable.ArrayBuffer[Fact]()
      def emit(s: Any, p: Any, o: Any): Unit = {
        val f = Fact(s, p, o)
        if (!all.contains(f) && freshSet.add(f)) fresh += f
      }
      // hasValue: extend the restriction table with rows gaining a delta
      // premise this round (restr(delta,all,all) ∪ restr(all,delta,all) ∪
      // restr(all,all,delta)), firing each new row over all typed members
      if (hasval) {
        val cand = new java.util.LinkedHashSet[(Any, Any, Any)]()
        delta.foreach { f =>
          if (f.p == onPropR && restrTyped.contains(f.s))
            each(hasValByR.get(f.s))(rv => cand.add((f.s, f.o, rv)))
          else if (f.p == hasValR && restrTyped.contains(f.s))
            each(onPropByR.get(f.s))(rp => cand.add((f.s, rp, f.o)))
          else if (f.p == typeR && f.o == restrR)
            each(onPropByR.get(f.s))(rp =>
              each(hasValByR.get(f.s))(rv => cand.add((f.s, rp, rv))))
        }
        cand.forEach { row =>
          if (rRows.add(row)) {
            add(rByClass, row._1, (row._2, row._3))
            each(typeByO.get(row._1))(x => emit(x, row._2, row._3))
          }
        }
      }
      var di = 0
      while (di < delta.length) {
        val f = delta(di); di += 1
        val (s, p, o) = (f.s, f.p, f.o)
        val isTypeFact = p == typeR
        if (inv) {
          each(invByP.get(p))(hq => emit(o, hq, s))
          each(invByQ.get(p))(hp => emit(o, hp, s))
          if (p == invR) { // new inverseOf axiom (hp=s, hq=o) over all facts
            each(byP.get(s))(g => emit(g.o, o, g.s))
            each(byP.get(o))(g => emit(g.o, s, g.s))
          }
        }
        if (sym) {
          if (symProps.contains(p)) emit(o, p, s)
          if (isTypeFact && o == symR)
            each(byP.get(s))(g => emit(g.o, s, g.s))
        }
        if (trans) {
          if (transProps.contains(p)) {
            each(psIdx.get((p, o)))(u => emit(s, p, u))
            each(poIdx.get((p, s)))(x => emit(x, p, o))
          }
          if (isTypeFact && o == transR) // new transitivity axiom: all × all
            each(byP.get(s))(g =>
              each(psIdx.get((s, g.o)))(u => emit(g.s, s, u)))
        }
        if (func) {
          if (funcProps.contains(p))
            each(psIdx.get((p, s)))(o2 =>
              if (o2 != o) { emit(o, sameAsR, o2); emit(o2, sameAsR, o) })
          if (invFuncProps.contains(p))
            each(poIdx.get((p, o)))(s2 =>
              if (s2 != s) { emit(s, sameAsR, s2); emit(s2, sameAsR, s) })
          if (isTypeFact && o == funcR) // new axiom: all ordered pairs
            each(byP.get(s))(g =>
              each(psIdx.get((s, g.s)))(o2 =>
                if (o2 != g.o) emit(g.o, sameAsR, o2)))
          if (isTypeFact && o == invFuncR)
            each(byP.get(s))(g =>
              each(poIdx.get((s, g.o)))(s2 =>
                if (s2 != g.s) emit(g.s, sameAsR, s2)))
        }
        if (equiv) {
          if (p == eqcR) {
            emit(o, p, s) // symmetry
            each(typeByO.get(s))(x => emit(x, typeR, o))
          }
          if (p == eqpR) {
            emit(o, p, s)
            each(byP.get(s))(g => emit(g.s, o, g.o))
          }
          if (isTypeFact)
            each(eqcByC1.get(o))(c2 => emit(s, typeR, c2))
          each(eqpByP1.get(p))(p2 => emit(s, p2, o))
        }
        if (hasval && isTypeFact)
          each(rByClass.get(o)) { rr => emit(s, rr._1, rr._2) }
      }
      if (all.size.toLong + fresh.length > OwlLocalMaxDerived) return None
      fresh.foreach(insert)
      delta = fresh
      iter += 1
    }
    val out = new Array[Row](all.size())
    val it = all.iterator()
    var i = 0
    while (it.hasNext) { val f = it.next(); out(i) = Row(f.s, f.p, f.o); i += 1 }
    Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }
}
