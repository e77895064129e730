package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * executor counters read after an operation include all of its tasks.
  * Lives in this package because `SparkContext.listenerBus` is
  * package-private. */
object BenchListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
