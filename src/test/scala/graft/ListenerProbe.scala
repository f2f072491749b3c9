package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Test-side view of the SparkContext's shared listener bus: the
  * listeners registered on it. Lives under `org.apache.spark` because the
  * bus is internal. */
object ListenerProbe {
  def listeners(sc: SparkContext): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.toSeq
  }

  /** Blocks until every event posted so far has reached its listeners,
    * query-execution listeners included. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
