package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Warc

/** Dev throughput probe for the WARC ingestion source (the [[Prof]]
  * pattern): walk every shard under a directory, count records and
  * decompressed bytes, and print per-run ingest throughput. Usage:
  *
  *   runMain graft.tools.WarcProf <warcDir> [runs]
  *
  * Reads SPARK_GRAFT_CPUS like Bench (default 4). Parallelism is the
  * shard count (binaryFile: one task per file — the ~1 GB shard
  * convention), so throughput here is a per-core record-walk number, not
  * a cluster claim.
  */
object WarcProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = Tables.session()
    val nShards = spark.read.format("binaryFile").load(dir).count()
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      // coalesce: SUM over zero records is NULL, and a directory of
      // empty shards should report 0 bytes, not NPE at getLong
      val agg = Warc.records(spark, dir)
        .agg(count(lit(1)), coalesce(sum(col("content_length")), lit(0L)))
        .head()
      val (nRec, bytes) = (agg.getLong(0), agg.getLong(1))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[warcprof] run $i: $nShards shards, $nRec records, " +
        f"${bytes / 1e6}%.1f MB payload in $dt%.2fs = " +
        f"${bytes / 1e6 / dt}%.1f MB/s, ${nRec / dt}%.0f rec/s")
    }
    spark.stop()
  }
}
