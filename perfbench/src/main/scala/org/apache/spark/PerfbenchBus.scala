package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counters read after an action include that action's task metrics.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
