package org.apache.spark

/** Test access to the one Spark internal the specs need: waiting until
  * the listener bus has delivered every queued event, so a listener's
  * job count is complete when it is read. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
