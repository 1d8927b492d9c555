package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters read after an action are complete.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
