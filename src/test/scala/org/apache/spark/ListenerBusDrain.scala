package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * test listener's counts are complete when the test reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
