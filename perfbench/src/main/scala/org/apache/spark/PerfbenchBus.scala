package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced run reads complete counters. The bus is internal to Spark,
  * hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
