package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * per-op trace counters are complete before they are read. The bus is
  * Spark-internal, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
