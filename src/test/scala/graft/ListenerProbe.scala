package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Test-side view of the SparkContext's shared listener bus: how many
  * listeners are registered on it. Lives under `org.apache.spark` because
  * the bus is internal. */
object ListenerProbe {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
