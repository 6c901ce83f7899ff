package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every queued
  * listener event has been delivered, so that task and query events can be
  * attributed to the phase that produced them. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
