package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache is sized by `Tables.requiredConfs`: a
  * query's classes must survive the engine's working set of other
  * codegen'd plans, or every warm pass recompiles them.
  */
class CodegenCacheSpec extends SparkSpecBase {

  private val MaxEntries = "spark.sql.codegen.cache.maxEntries"

  test("the session reports the configured codegen cache size") {
    assert(spark.conf.get(MaxEntries) == Tables.requiredConfs(MaxEntries))
  }

  test("a query's generated classes survive 150 other codegen'd plans") {
    def query(): Unit =
      spark.range(64).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v").collect()
    query()
    // each literal is inlined into the generated source, so every
    // projection is a distinct class
    (1 to 150).foreach(i => spark.range(8).selectExpr(s"id * $i + 1").collect())
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    query()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the repeated query recompiled classes evicted from the codegen cache")
  }
}
