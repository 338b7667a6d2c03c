package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener totals are complete when an op's numbers are read.
  * The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
