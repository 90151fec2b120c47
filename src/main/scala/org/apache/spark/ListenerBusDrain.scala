package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * listener's counts are complete when its owner reads them. The bus is
  * `private[spark]`, hence the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
