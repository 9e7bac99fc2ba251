package graft.tools

import graft.Tables

/** Dev probe (the WarcProf discipline): times each temporal-suite entry
  * at an arbitrary sf dir and prints the funnel's final physical plan —
  * the instrument behind the events_funnel scaling investigation
  * (SURVEY §6.1c). Usage: runMain graft.tools.TemporalProf <sfDir> [q,...]
  */
object TemporalProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = Tables.session()
    for ((name, fn) <- graft.queries.TemporalSuite.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      val df = fn(spark, dir)
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val c = df.count()
        println(f"[tprof] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$c")
      }
      if (sys.env.contains("TPROF_PLAN")) {
        df.count()
        println(s"[tprof] $name final plan:\n" +
          df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
