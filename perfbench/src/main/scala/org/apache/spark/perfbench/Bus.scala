package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events post asynchronously; counters read before the bus
  * drains miss the tail of the last job. `waitUntilEmpty` is
  * package-private to Spark, hence this shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
