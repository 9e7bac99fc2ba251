package graft.tools

import graft.{SparkEntry, Tables}

/** Dev probe: time the two OWL closure load steps exactly as the bench's
  * load phase runs them (quads artifact built first, then each owl step's
  * first count builds its Catalog closure artifact).
  * Usage: runMain graft.tools.OwlProf [sfDir]
  */
object OwlProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Tables.session()
    // A/B the bounded-local vs distributed fixpoint at any scale
    sys.env.get("SPARK_GRAFT_OWL_LOCAL_MAX").foreach(v =>
      spark.conf.set(graft.rules.Owl.OwlLocalMaxFactsConf, v))
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[owlprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    t("quads")(graft.queries.RdfSuite.buildQuads(spark, sfDir).count())
    t("owlTransitive (load)")(
      SparkEntry.queries("owl_transitive_locatedin")(spark, sfDir).count())
    println(s"[owlprof] strategy: ${graft.util.Bounded.strategy("owl")}")
    t("owlEquivalence (load)")(
      SparkEntry.queries("owl_equivalence_merge")(spark, sfDir).count())
    println(s"[owlprof] strategy: ${graft.util.Bounded.strategy("owl")}")
    t("owlTransitive (query, warm)")(
      SparkEntry.queries("owl_transitive_locatedin")(spark, sfDir).count())
    t("owlEquivalence (query, warm)")(
      SparkEntry.queries("owl_equivalence_merge")(spark, sfDir).count())
    spark.stop()
  }
}
