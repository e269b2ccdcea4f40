package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * counters read right after an action include that action's jobs. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
