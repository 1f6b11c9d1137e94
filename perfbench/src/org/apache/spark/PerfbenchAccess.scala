package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every posted
 * listener event has been delivered, so per-op totals are complete before
 * they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
