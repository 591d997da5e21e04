package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's record is complete when the benchmark reads it. The bus
  * is private to Spark; this accessor lives in Spark's package for
  * that reason only. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
