package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * that counts read after a traced call include all of that call's jobs.
  * The listener bus is private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
