package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, for
  * [[graft.Instrumentation.measure]].
  */
object ListenerBus {
  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
