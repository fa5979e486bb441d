package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it: block until every posted event has reached
  * the listeners, so per-batch counters are complete when read. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
