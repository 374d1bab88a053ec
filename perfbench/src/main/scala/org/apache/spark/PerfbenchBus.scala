package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's counters are complete before they are read. The bus is
  * internal to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
