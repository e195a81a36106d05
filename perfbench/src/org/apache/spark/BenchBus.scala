package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's totals are complete when a job's action returns. The listener
  * bus is private to Spark; this object lives in Spark's package to reach it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
