package org.apache.spark

/** Test access to the SparkContext's private listener bus: returns once
  * every event posted so far has reached the listeners, so a listener's
  * job count is complete when the action that ran the jobs returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
