package org.apache.spark.ingestbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a span's counters are read
  * only after every event of the work it covered has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
