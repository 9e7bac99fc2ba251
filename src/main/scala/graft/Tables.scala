package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * These play the role of the reference's statement/lexicon relations as the
  * raw relational surface (reference: SPORelation,
  * bigdata-rdf/src/java/com/bigdata/rdf/spo/SPORelation.java:128): a columnar
  * scan with Catalyst predicate pushdown replaces the B+Tree covering-index
  * key-range scan (AccessPath.java:114).
  *
  * Scale posture: each table is a plain parquet directory; at 100 TB the same
  * call reads a partitioned/bucketed layout — no code change, since all
  * downstream operators are declarative DataFrame plans.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs the engine depends on; [[session]] applies them.
    *
    *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.ts` is
    *    TIMESTAMP(NANOS), which Spark only reads as a long (nanos since
    *    epoch). `load` converts it back to a timestamp column.
    *  - `spark.sql.codegen.cache.maxEntries`: Spark's generated-class cache
    *    is one JVM-wide LRU, sized by this static conf when the first class
    *    compiles. At the default of 100, a pass of the endpoint or the
    *    analytics batch (about 330 distinct whole-stage classes) evicts
    *    every class before it comes round again, so each warm pass
    *    recompiles nearly all of them. One whole run compiles at most
    *    about 400 distinct classes; 1000 is 2.5x that. An entry (retained
    *    source key plus bytecode) holds about 27 KB of live heap, so the cap
    *    bounds the cache at about 27 MB.
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** The engine's session: `local[cpus]` with one shuffle partition per
    * core, UTC, no UI, and [[requiredConfs]]. `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 4.
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
              logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(requiredConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integer division keeps full precision (double math would lose
      // bits on ~1e18-ns epoch values)
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** Register every table as a temp view (for spark.sql surfaces/tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
