package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The benchmark's one reach into `private[spark]` API: draining the
  * listener bus, so per-operation SparkListener counts are read only
  * after every event the operation caused has been delivered. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
