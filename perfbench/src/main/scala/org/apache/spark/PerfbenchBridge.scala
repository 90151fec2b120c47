package org.apache.spark

/** The one Spark-internal call the harness needs: block until every
  * posted listener event has been delivered, so the counters read after
  * a traced run are complete. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
