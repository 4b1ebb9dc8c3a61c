package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the harness drains
  * the bus before it reads its counters, so every event of a timed call
  * is attributed to that call. `listenerBus` is private[spark]. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
