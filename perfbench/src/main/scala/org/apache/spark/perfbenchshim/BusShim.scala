package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a phase's counters are read
  * only after the bus has delivered every event posted so far. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
