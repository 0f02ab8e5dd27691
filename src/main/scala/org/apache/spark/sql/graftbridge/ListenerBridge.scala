package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus: block until every event
  * posted so far has reached every listener, so a reader sees a run's
  * job and progress events without sleeping. Lives here for the same
  * visibility reason as [[ColumnBridge]].
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
