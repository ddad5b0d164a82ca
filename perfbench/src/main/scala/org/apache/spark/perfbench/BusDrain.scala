package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event queued on the listener bus has been delivered,
  * so counts read after an operation include all of its events. The bus is
  * `private[spark]`, hence this bridge's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
