package org.apache.spark.graphbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the tracer drains it once, when
  * the run ends, so every task-end event has reached its listener before
  * the spans are aggregated. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
