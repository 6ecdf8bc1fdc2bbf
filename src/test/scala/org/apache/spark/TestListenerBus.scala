package org.apache.spark

/** The listener bus is private[spark]; a spec that counts events with a
  * SparkListener must wait until every event has been delivered before
  * it reads its counters.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
