package org.apache.spark

/** The listener bus is private[spark]; the benchmark harness needs to
  * wait until every event of an operation has been delivered before it
  * reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
