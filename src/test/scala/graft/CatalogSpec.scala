package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.queries.Catalog

/** Catalog artifacts under concurrent first use (the HTTP server runs
  * requests on a thread pool) and after a failed build.
  */
class CatalogSpec extends SparkSpecBase {

  test("concurrent first use of one artifact builds it once") {
    val dir = "catalog-spec-race"
    val builds = new AtomicInteger()
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val counts = (1 to threads).map { _ =>
        pool.submit(() => {
          start.await()
          Catalog.table(spark, dir, "t") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            spark.range(5).toDF("id")
          }.count()
        })
      }
      start.countDown()
      assert(counts.map(_.get(120, TimeUnit.SECONDS)).forall(_ == 5L))
      assert(builds.get == 1, s"${builds.get} builds for one key")
    } finally {
      pool.shutdownNow()
      Catalog.drop(dir)
    }
  }

  test("a build that throws is retried on the next call, not cached") {
    val dir = "catalog-spec-retry"
    try {
      intercept[IllegalStateException] {
        Catalog.table(spark, dir, "t")(throw new IllegalStateException("boom"))
      }
      assert(Catalog.entryCount(dir) == 0)
      assert(Catalog.table(spark, dir, "t")(spark.range(3).toDF("id")).count() == 3L)
    } finally Catalog.drop(dir)
  }
}
