package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The bounded "local below N, distributed above" choice, made in one
  * place for every driver fast path: bfs, sssp, pagerank and connected
  * components (gas.Graphs), general and chain-shaped closure
  * (sparql.Paths), the OWL active-set fixpoint (rules.Owl) and MMR
  * (pipeline.Retrieval).
  *
  * Below the bound the input is collected once and the program runs as
  * one driver pass instead of O(rounds) scheduled jobs that shuffle almost
  * nothing. Above it the distributed loop runs unchanged, so a
  * corpus-scale input never touches the driver. Both paths compute the
  * same result (each site's parity spec pins it).
  *
  *  - [[bound]] reads the site's conf key (its default when unset) and
  *    clamps it to [0, Int.MaxValue - 8]. A bound of 0 means "distributed,
  *    no probe" at every site.
  *  - [[collect]] is the one size probe: `limit(n + 1).collect()`. An
  *    under-bound frame comes back whole, and those rows ARE the local
  *    pass's input, so no site collects twice. The limit scans partitions
  *    in widening waves. Measured on Spark 4.1.2 with AQE, an under-bound
  *    checkpoint of 1, 4 or 16 partitions took 1, 2 or 3 jobs, against
  *    count-then-collect's 3, and less wall time in each case. The price
  *    is that an over-bound frame ships up to n + 1 rows before falling
  *    through.
  *  - [[choose]] runs the local pass on the probed input. The local pass
  *    may still decline (an output cap, a cycle) by returning None, and
  *    then the distributed path runs. The outcome, "local" or
  *    "distributed", goes to a per-site record read by specs and
  *    profilers through [[strategy]]. "distributed" is written before the
  *    distributed path runs, so that path may refine it with [[note]]
  *    (Paths records its closure ladder step: "chain" or "doubling").
  */
object Bounded {

  private val record =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The site's row bound from conf key `key`, clamped. */
  def bound(spark: SparkSession, key: String, default: Long): Int = {
    val b = spark.conf.getOption(key).map(_.toLong).getOrElse(default)
    math.min(math.max(b, 0L), (Int.MaxValue - 8).toLong).toInt
  }

  /** Whether `size` rows, already known, fit under bound `n`. */
  def fits(size: Long, n: Int): Boolean = n > 0 && size <= n

  /** All rows of `df` when there are at most `n`, else None. Launches no
    * job when `n <= 0`.
    */
  def collect(df: DataFrame, n: Int): Option[Array[Row]] =
    if (n <= 0) None
    else Some(df.limit(n + 1).collect()).filter(r => fits(r.length, n))

  /** The local result when `probe` fit and `local` accepted it, else the
    * distributed one; records which ran under `site`.
    */
  def choose[A, T](site: String, probe: Option[A])(local: A => Option[T])
                  (distributed: => T): T =
    probe.flatMap(local) match {
      case Some(out) => note(site, "local"); out
      case None => note(site, "distributed"); distributed
    }

  /** Records `strategy` as what `site` ran. */
  def note(site: String, strategy: String): Unit = record.put(site, strategy)

  /** What the last evaluation at `site` on this JVM chose ("" if none). */
  def strategy(site: String): String = record.getOrDefault(site, "")

  /** Every site recorded since the last drain, with its strategy; clears
    * the record.
    */
  def drain(): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    record.keySet.forEach(site => Option(record.remove(site)).foreach(out += site -> _))
    out.result()
  }
}
