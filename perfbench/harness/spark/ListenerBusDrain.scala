package org.apache.spark

/** Waits until every posted listener event has been delivered, so that
  * counters read afterwards are complete. The bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
