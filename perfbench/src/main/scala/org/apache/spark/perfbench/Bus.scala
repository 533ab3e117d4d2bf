package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The harness drains it
  * at every layer boundary, so each event lands in the layer that was
  * current when the event was posted, whatever thread posted it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
