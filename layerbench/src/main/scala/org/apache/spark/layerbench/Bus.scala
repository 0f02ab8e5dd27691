package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can wait for every posted event to reach its listeners
  * before it reads their counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
