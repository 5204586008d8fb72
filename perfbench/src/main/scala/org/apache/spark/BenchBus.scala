package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read right after an action include that action. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
