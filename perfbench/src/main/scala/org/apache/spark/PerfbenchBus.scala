package org.apache.spark

/** The one Spark-internal the harness needs: waiting for the listener bus
  * to deliver every queued event, so per-layer totals are complete before
  * they are read and before a listener is detached. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
