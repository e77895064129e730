package org.apache.spark

/** Shim into Spark's `private[spark]` listener bus: a reader of listener
  * counters must drain the async bus before reading them, and
  * `waitUntilEmpty` (the deterministic drain Spark's own test suites
  * use) is package-private. Used by [[graft.metrics.Ledger]]. */
object GraftListenerDrain {
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
