package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Wait until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all jobs and tasks before spans are
  * aggregated. `listenerBus` is package-private to `org.apache.spark`.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
