package org.apache.spark

/** Bridge into `private[spark]` listener-bus internals — the same
  * package-placement trick as [[org.apache.spark.sql.GraftColumnBridge]].
  * `drain` blocks until every queued listener event has been delivered, so
  * event counts (graft.Bench's jobs per key, the specs' job assertions)
  * are DETERMINISTIC instead of quiescence-polled (the polling form flakes
  * exactly when the host is contended). */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
