package org.apache.spark

/** Access to SparkContext.listenerBus (private[spark]): the harness
  * reads listener-fed counters only after the bus has drained. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
