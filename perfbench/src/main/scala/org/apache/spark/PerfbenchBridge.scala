package org.apache.spark

/** Reaches the one `private[spark]` member the benchmark needs: Spark's
  * listener bus is asynchronous, and counters read from listeners are only
  * complete once it has delivered every queued event. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
