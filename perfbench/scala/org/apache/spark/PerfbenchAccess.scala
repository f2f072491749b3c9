package org.apache.spark

/** Two read-only views of SparkContext internals the benchmark needs and
  * the public API does not offer: draining the listener bus (so every
  * event of a finished call has been delivered before it is attributed)
  * and counting the listeners registered on it. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
