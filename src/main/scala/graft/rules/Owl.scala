package graft.rules

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.rdf.Term
import graft.rules.RDFS.RdfType
import graft.util.{Bounded, Fixpoint}

/** OWL rules on top of the RDFS rule set — the subset the reference's
  * full-closure program covers beyond RDFS (its `bigdata-rdf` rule classes
  * RuleOwlInverseOf, RuleOwlTransitiveProperty1/2, RuleOwlSymmetricProperty
  * and the equivalence/hasValue rules; owl:sameAs canonicalization lives in
  * `OwlSameAs`).
  *
  * The rules are data. [[table]] states each rule once: a head atom and
  * body atoms over (s, p, o), each position a constant IRI or a variable,
  * plus the inequality the functional rules need. Two small executors run
  * that one table, so they agree by construction:
  *
  *  - [[round]] compiles it into the `(all, delta)` step that
  *    `Fixpoint.semiNaive` takes: one variant per rule and body atom, with
  *    `delta` at that atom and `all` at the others. Schema atoms (a
  *    constant axiom predicate or class) are joined among themselves and
  *    broadcast.
  *  - [[localClosure]] evaluates it on the driver over a collected fact
  *    set: each delta fact that unifies with a body atom is joined to the
  *    remaining atoms through hash indexes on `all`, keyed by the positions
  *    bound at that point. Same rounds, same set semantics, so the
  *    per-round fact sets (and the result, even at the maxIters cap) are
  *    the scheduled fixpoint's.
  *
  * These rules feed each other AND the RDFS rules (an inverse edge can
  * trigger domain typing, a subPropertyOf edge can create transitive
  * facts), so [[closure]] runs one semi-naive fixpoint over the union of
  * both rounds — exactly why the reference's fast closure defers these to
  * its fixpoint section.
  *
  * Scale posture: schema premises are broadcast; per-round work is
  * delta-proportional; transitive chains close in O(closure-size) rounds of
  * hash joins, and every round is checkpointed via `Fixpoint` so lineage
  * stays O(1).
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
  private val SameAs = OwlSameAs.SameAs

  // ------------------------------------------------------------------
  // The rule table
  // ------------------------------------------------------------------

  private sealed trait Pos
  /** A constant IRI; `term` is its struct value as collected Rows hold it. */
  private final case class C(iri: String) extends Pos {
    val term: Row = Row(0.toByte, iri, null, null, null)
  }
  /** A variable: `name` is its column in [[round]], `slot` its index in
    * [[localClosure]]'s binding array.
    */
  private final case class V(name: String, slot: Int) extends Pos

  /** An (s, p, o) pattern. A schema atom names an axiom: a constant
    * predicate other than rdf:type, or rdf:type of a constant class.
    */
  private final case class Atom(pos: IndexedSeq[Pos]) {
    val schema: Boolean = pos(1) match {
      case C(RdfType) => pos(2).isInstanceOf[C]
      case q => q.isInstanceOf[C]
    }
    def vars: Seq[V] = pos.collect { case v: V => v }
  }

  /** head ← body, unless the `neq` pair binds one term. Every rule has at
    * least one schema atom.
    */
  private final case class Rule(head: Atom, body: Seq[Atom],
                                neq: Option[(Pos, Pos)]) {
    val slots: Int = body.flatMap(_.vars).map(_.slot).max + 1
    /** The variables that name a property this rule reads or writes: the
      * predicate of the head or of a non-schema atom.
      */
    val propVars: Set[Pos] =
      (head +: body.filterNot(_.schema)).map(_.pos(1)).collect { case v: V => v }.toSet
  }

  /** A rule from "s p o" strings: `?x` is a variable, any other token an
    * IRI, and a body string "?x != ?y" is the rule's inequality. No
    * variable repeats within one atom (both executors rely on it).
    */
  private def rule(head: String, body: String*): Rule = {
    val (neqs, atoms) = body.map(_.split(' ').toIndexedSeq).partition(_(1) == "!=")
    val heads = head.split(' ').toIndexedSeq
    val slot = (atoms.flatten ++ heads).filter(_.startsWith("?")).distinct
      .zipWithIndex.toMap
    def pos(t: String): Pos = if (t.startsWith("?")) V(t.drop(1), slot(t)) else C(t)
    Rule(Atom(heads.map(pos)), atoms.map(a => Atom(a.map(pos))),
         neqs.headOption.map(t => (pos(t(0)), pos(t(2)))))
  }

  /** The OWL rules, by their OWL 2 RL names. */
  private val table: Seq[Rule] = Seq(
    rule("?o ?q ?s", s"?p $InverseOf ?q", "?s ?p ?o"), // prp-inv1
    rule("?o ?p ?s", s"?p $InverseOf ?q", "?s ?q ?o"), // prp-inv2
    rule("?o ?p ?s", s"?p $RdfType $SymmetricProperty", "?s ?p ?o"), // prp-symp
    rule("?s ?p ?u", s"?p $RdfType $TransitiveProperty", // prp-trp
         "?s ?p ?o", "?o ?p ?u"),
    rule(s"?o1 $SameAs ?o2", s"?p $RdfType $FunctionalProperty", // prp-fp
         "?s ?p ?o1", "?s ?p ?o2", "?o1 != ?o2"),
    rule(s"?s1 $SameAs ?s2", s"?p $RdfType $InverseFunctionalProperty", // prp-ifp
         "?s1 ?p ?o", "?s2 ?p ?o", "?s1 != ?s2"),
    rule(s"?b $EquivalentClass ?a", s"?a $EquivalentClass ?b"), // scm-eqc symmetry
    rule(s"?x $RdfType ?b", s"?a $EquivalentClass ?b", s"?x $RdfType ?a"), // cax-eqc1
    rule(s"?q $EquivalentProperty ?p", s"?p $EquivalentProperty ?q"), // scm-eqp symmetry
    rule("?s ?q ?o", s"?p $EquivalentProperty ?q", "?s ?p ?o"), // prp-eqp1
    rule("?x ?p ?v", s"?r $RdfType $Restriction", s"?r $OnProperty ?p", // cls-hv1
         s"?r $HasValue ?v", s"?x $RdfType ?r"))

  private val spo = IndexedSeq("s", "p", "o")
  private val RdfsSchema =
    Seq(RDFS.SubPropertyOf, RDFS.SubClassOf, RDFS.Domain, RDFS.Range)
  private val schemaAtoms = table.flatMap(_.body).filter(_.schema).distinct

  /** Fact-count bound under which the (non-RDFS) OWL fixpoint runs as one
    * driver pass over the collected ACTIVE subset (see
    * [[graft.util.Bounded]]) instead of semi-naive rounds of up to ~25
    * join branches each, and the derived-fact cap past which that pass
    * aborts to the distributed loop. Same rule table, same round
    * structure, set semantics: the result is identical.
    */
  val OwlLocalMaxFactsConf = "spark.graft.owlLocalMaxFacts"
  val OwlLocalMaxFactsDefault = 1000000L
  val OwlLocalMaxDerived = 4000000L

  // ------------------------------------------------------------------
  // Distributed executor
  // ------------------------------------------------------------------

  private def colOf(q: Pos): Column = q match {
    case C(iri) => Term.iri(iri)
    case V(name, _) => col(name)
  }

  /** Facts matching the atom's constants. */
  private def matchCol(a: Atom): Column =
    a.pos.zip(spo).collect { case (c: C, x) => col(x) === colOf(c) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** The facts matching `a`, one column per variable. */
  private def bind(facts: DataFrame, a: Atom): DataFrame =
    facts.filter(matchCol(a))
      .select(a.pos.zip(spo).collect { case (V(n, _), x) => col(x).as(n) }: _*)

  private def natJoin(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, l.columns.intersect(r.columns).toSeq)

  /** Semi-naive variant `i` of `r`: `delta` at body atom i, `all` at the
    * rest. The schema atoms' join is broadcast into the first data atom.
    */
  private def variant(r: Rule, all: DataFrame, delta: DataFrame, i: Int): DataFrame = {
    def rel(j: Int) = bind(if (j == i) delta else all, r.body(j))
    val (schema, data) = r.body.indices.partition(r.body(_).schema)
    val axioms = schema.map(rel).reduce(natJoin)
    val joined =
      if (data.isEmpty) axioms
      else (natJoin(rel(data.head), broadcast(axioms)) +: data.tail.map(rel))
        .reduce(natJoin)
    r.neq.fold(joined) { case (x, y) => joined.filter(!(colOf(x) <=> colOf(y))) }
      .select(r.head.pos.zip(spo).map { case (q, x) => colOf(q).as(x) }: _*)
  }

  /** One closure round: the RDFS round when `rdfs`, plus every variant of
    * `rules`; consequences with ≥1 premise in `delta`.
    */
  private def round(rdfs: Boolean, rules: Seq[Rule])
                   (all: DataFrame, delta: DataFrame): DataFrame =
    ((if (rdfs) Seq(RDFS.round(all, delta)) else Nil) ++
      (for (r <- rules; i <- r.body.indices) yield variant(r, all, delta, i)))
      .reduce(_ unionByName _).distinct()

  // ------------------------------------------------------------------
  // Program and scope, read off the table
  // ------------------------------------------------------------------

  private final case class Fact(s: Any, p: Any, o: Any) {
    def apply(i: Int): Any = productElement(i)
  }
  private def facts(rows: Array[Row]): Seq[Fact] =
    rows.toSeq.map(r => Fact(r.get(0), r.get(1), r.get(2)))

  private val rdfsTerms = RdfsSchema.map(C(_).term)

  /** Facts that can match a schema atom or an RDFS schema premise. */
  private val isSchema: Column =
    (schemaAtoms.map(matchCol) ++ RdfsSchema.map(c => col("p") === Term.iri(c)))
      .reduce(_ || _)
  private def matches(a: Atom, f: Fact): Boolean =
    a.pos.indices.forall(i => a.pos(i) match {
      case c: C => c.term == f(i)
      case _ => true
    })

  /** The program `schema` switches on: the RDFS round when an RDFS schema
    * premise is present, and each rule whose every schema atom some fact
    * matches. A rule left out cannot fire on a closure that still leaves
    * one of its schema atoms unmatched.
    */
  private def programOf(schema: Seq[Fact]): (Boolean, Seq[Rule]) =
    (schema.exists(f => rdfsTerms.contains(f.p)),
     table.filter(_.body.filter(_.schema).forall(a => schema.exists(matches(a, _)))))

  /** The axiom-property scope of `schema`: every property an axiom in it
    * makes a rule read or write, by lex.
    */
  private def scopeOf(schema: Seq[Fact]): Set[String] =
    (for (r <- table; a <- r.body if a.schema; f <- schema if matches(a, f);
          i <- spo.indices if r.propVars(a.pos(i)))
      yield f(i).asInstanceOf[Row].getString(1)).toSet

  /** Facts that can match some body atom when only `scope` properties are
    * named by axioms: a variable predicate must be one of them.
    */
  private def activeCol(scope: Set[String]): Column = {
    val inScope =
      if (scope.isEmpty) lit(false) else Term.lex(col("p")).isin(scope.toSeq: _*)
    table.flatMap(_.body)
      .map(a => if (a.pos(1).isInstanceOf[V]) matchCol(a) && inScope else matchCol(a))
      .distinct.reduce(_ || _)
  }

  /** Combined RDFS + OWL closure of the default graph.
    *
    * The program is COMPILED against the axioms actually present (one
    * bounded schema scan up front): rules whose schema atoms the store
    * leaves unmatched never enter the fixpoint — the reference's closure
    * program does the same (its rule list depends on the ontology), and
    * with e.g. only a TransitiveProperty axiom a round shrinks to 3 join
    * branches. A closure whose derived axioms switch on more of the table,
    * or name a property outside the active scope, escapes: it reruns as the
    * whole table over the whole store. That never happens on real
    * ontologies.
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
    // ONE bounded schema scan: the schema/axiom statements are schema-sized
    // by assumption, guarded against an adversarial store-sized axiom set —
    // past the guard every rule and the RDFS round run over the store.
    val axiomGuard = 100000
    def schemaOf(df: DataFrame): Option[Seq[Fact]] =
      Bounded.collect(df.filter(isSchema), axiomGuard).map(facts)
    val schema = schemaOf(triples)
    val (rdfs, program) = schema.fold((true, table))(programOf)
    if (!rdfs && program.isEmpty)
      return triples.distinct().withColumn("c", Term.unbound)
    def fix(rdfs: Boolean, rules: Seq[Rule])(facts: DataFrame): DataFrame = {
      Bounded.note("owl", "distributed")
      Fixpoint.semiNaive(facts, maxIters)(round(rdfs, rules))
    }
    // Whether a closed result's schema facts (None: past the guard) switch
    // on more than the program, or name a property outside `scope`.
    def escapes(closed: Option[Seq[Fact]], scope: Option[Set[String]]): Boolean =
      closed.forall { fs =>
        val (r, rules) = programOf(fs)
        (r && !rdfs) || !rules.forall(program.contains) ||
          scope.exists(s => !scopeOf(fs).subsetOf(s))
      }
    val (closed, escaped) =
      if (rdfs) {
        val c = fix(rdfs, program)(triples)
        (c, program.size < table.size && escapes(schemaOf(c), None))
      } else {
        // Narrow the fixpoint to the ACTIVE subset — facts that can match a
        // body atom: rdf:type facts, schema statements, and facts whose
        // predicate an axiom names. Everything else is inert and unions
        // back after the fixpoint, instead of paying the per-round
        // distinct/except shuffles over the whole store (at sf0.1 this cut
        // the equivalence-closure build from 129s to the cost of the ~10x
        // smaller active set). Without the RDFS round (whose domain/range
        // rules make every statement a premise) that is sound; the
        // reference's rule programs scope the same way, each rule's access
        // paths binding to its axiom constants.
        val scope = schema.fold(Set.empty[String])(scopeOf)
        val isActive = activeCol(scope)
        val active = triples.filter(isActive)
        val spark = quads.sparkSession
        val bound = Bounded.bound(spark, OwlLocalMaxFactsConf, OwlLocalMaxFactsDefault)
        val (closedActive, closedSchema) =
          Bounded.choose("owl", Bounded.collect(active, bound)) { sample =>
            localClosure(program, sample, maxIters).map { fs =>
              val rows = fs.map(f => Row(f.s, f.p, f.o))
              (spark.createDataFrame(spark.sparkContext.parallelize(rows), active.schema),
               Option(fs))
            }
          } {
            val c = fix(rdfs, program)(active)
            (c, schemaOf(c))
          }
        // One final distinct (a derived fact can coincide with an inert
        // base fact, e.g. an asserted sameAs the functional rule
        // re-derives) — one full-store shuffle instead of one per round.
        (triples.filter(!isActive).unionByName(closedActive).distinct(),
         escapes(closedSchema, Some(scope)))
      }
    (if (escaped) fix(true, table)(triples) else closed)
      .withColumn("c", Term.unbound)
  }

  // ------------------------------------------------------------------
  // Driver executor
  // ------------------------------------------------------------------

  /** Semi-naive rounds of `rules` over `init` on the driver; None once the
    * fact count passes [[OwlLocalMaxDerived]] (the caller falls back to
    * the distributed loop). Terms are struct Rows compared by value.
    */
  private def localClosure(rules: Seq[Rule], init: Array[Row], maxIters: Int)
      : Option[Seq[Fact]] = {
    // One plan per variant: the delta atom, then the other atoms in join
    // order (most bound positions first), each with the mask (bit i =
    // position i) of the positions bound when it is reached.
    final class Plan(val rule: Rule, val first: Atom, val rest: Seq[(Atom, Int)]) {
      val env = new Array[Any](rule.slots)
    }
    def mask(a: Atom, bound: Set[Pos]): Int =
      spo.indices.filter(i => a.pos(i).isInstanceOf[C] || bound(a.pos(i)))
        .map(1 << _).sum
    val plans = for (r <- rules; i <- r.body.indices) yield {
      var bound: Set[Pos] = r.body(i).vars.toSet
      var todo = r.body.patch(i, Nil, 1)
      val rest = Seq.newBuilder[(Atom, Int)]
      while (todo.nonEmpty) {
        val next = todo.maxBy(a => Integer.bitCount(mask(a, bound)))
        rest += ((next, mask(next, bound)))
        bound ++= next.vars
        todo = todo.diff(Seq(next))
      }
      new Plan(r, r.body(i), rest.result())
    }
    // one hash index per partial mask, keyed by a Fact with nulls at the
    // unbound positions; a fully bound atom is a lookup in `all`
    val all = new java.util.HashSet[Fact]()
    val index = plans.flatMap(_.rest.map(_._2)).distinct.filter(_ != 7)
      .map(m => m -> new java.util.HashMap[Fact, java.util.ArrayList[Fact]]()).toMap
    def key(m: Int, at: Int => Any): Fact = Fact(
      if ((m & 1) != 0) at(0) else null,
      if ((m & 2) != 0) at(1) else null,
      if ((m & 4) != 0) at(2) else null)
    def insert(f: Fact): Unit = {
      all.add(f)
      index.foreach { case (m, ix) =>
        ix.computeIfAbsent(key(m, f(_)), _ => new java.util.ArrayList[Fact]()).add(f)
      }
    }
    def value(q: Pos, env: Array[Any]): Any = q match {
      case c: C => c.term
      case v: V => env(v.slot)
    }
    // binds the atom's variables to `g`'s terms (a bound one to its own)
    def bindVars(a: Atom, g: Fact, env: Array[Any]): Unit =
      a.pos.indices.foreach(i => a.pos(i) match {
        case v: V => env(v.slot) = g(i)
        case _ =>
      })

    var delta: Seq[Fact] = facts(init).distinct
    delta.foreach(insert)
    var iter = 0
    while (iter < maxIters && delta.nonEmpty) {
      val fresh = new java.util.HashSet[Fact]()
      def join(pl: Plan, k: Int): Unit = {
        val env = pl.env
        if (k == pl.rest.length) {
          if (pl.rule.neq.forall { case (x, y) => value(x, env) != value(y, env) }) {
            val h = pl.rule.head.pos
            val f = Fact(value(h(0), env), value(h(1), env), value(h(2), env))
            if (!all.contains(f)) fresh.add(f)
          }
        } else {
          val (a, m) = pl.rest(k)
          val probe = key(m, i => value(a.pos(i), env))
          def visit(g: Fact): Unit = { bindVars(a, g, env); join(pl, k + 1) }
          if (m == 7) { if (all.contains(probe)) visit(probe) }
          else {
            val hits = index(m).get(probe)
            if (hits != null) hits.forEach(g => visit(g))
          }
        }
      }
      delta.foreach { f =>
        plans.foreach { pl =>
          if (matches(pl.first, f)) { bindVars(pl.first, f, pl.env); join(pl, 0) }
        }
      }
      if (all.size.toLong + fresh.size > OwlLocalMaxDerived) return None
      delta = fresh.asScala.toSeq
      delta.foreach(insert)
      iter += 1
    }
    Some(all.asScala.toSeq)
  }
}
