package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Load-time artifact store: derived tables that a deployed engine builds
  * ONCE at load/commit time — the triple-ized store, the RDFS-closed store,
  * the dictionary encoding, the full-text index — materialized to parquet
  * on first use and scanned thereafter.
  *
  * This mirrors the reference's architecture: StatementBuffer/LexiconRelation
  * build the journal's indexes at load, InferenceEngine materializes the
  * closure at commit (/root/reference/bigdata-rdf/src/java/com/bigdata/rdf/
  * store/AbstractTripleStore.java), and queries run against the result.
  * Re-deriving these per query would charge every query the load cost — at
  * 100 TB the distinction is existential, not cosmetic.
  *
  * Parquet (not .cache()) so the artifact survives executor eviction and
  * aggressive unpersist sweeps, benefits from column pruning/pushdown like
  * any other table, and behaves exactly like the warehouse table it would
  * be in a real deployment. Memoization is per-JVM; paths are per-process
  * (PID-salted) so concurrent drivers never clobber each other.
  */
object Catalog {

  /** One artifact: its parquet path, written by the first `path` read.
    * The lazy val holds concurrent first users until the one build is
    * done; a build that throws leaves it unbuilt.
    */
  private final class Artifact(val target: String, build: () => DataFrame) {
    lazy val path: String = { build().write.mode("overwrite").parquet(target); target }
  }

  private val built = scala.collection.concurrent.TrieMap.empty[(String, String), Artifact]

  private lazy val root: String = {
    val pid = ProcessHandle.current().pid()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-catalog-$pid"
    // artifacts are per-JVM scratch: reclaim them on exit so repeated
    // driver runs don't accumulate dead catalog dirs in tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => try java.nio.file.Files.delete(f)
                        catch { case _: Exception => })
      }
    }))
    dir
  }

  /** Return the memoized parquet-backed table, building it on first use.
    * Concurrent first uses of one key build it once; a build that throws
    * is forgotten, so the next call builds again.
    */
  def table(spark: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame = {
    val key = (dir, name)
    // the map may construct a losing Artifact under a race; only the
    // entered one is ever built
    val artifact = built.getOrElseUpdate(key,
      new Artifact(s"$root/${Integer.toHexString(dir.hashCode)}/$name", () => build))
    val path =
      try artifact.path
      catch { case e: Throwable => built.remove(key, artifact); throw e }
    spark.read.parquet(path)
  }

  /** Forget a dir's artifacts and delete their parquet files — for caches
    * that evict superseded entries (e.g. the bds store-key LRU).
    */
  def drop(dir: String): Unit =
    built.keys.filter(_._1 == dir).foreach { k =>
      built.remove(k).foreach { artifact =>
        val p = java.nio.file.Paths.get(artifact.target)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => try java.nio.file.Files.delete(f)
                          catch { case _: Exception => })
      }
    }

  /** How many live artifacts have a dir starting with `prefix` (spec hook
    * for eviction bounds). */
  private[graft] def entryCount(prefix: String): Int =
    built.keys.count(_._1.startsWith(prefix))
}
