package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are complete before they are read. Lives in
  * Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
