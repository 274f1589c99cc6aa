package org.apache.spark

/** Waits until every queued listener event has been delivered, so
  * counters read after an action include that action's events. The bus
  * is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
