package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; Bench drains it once, before it
  * reads its listener's counts, so every task-end event has arrived. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
