package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a probe reads its counters only
  * after the bus has delivered everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
