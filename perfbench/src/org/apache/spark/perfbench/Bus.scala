package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` member the benchmark needs. */
object Bus {
  /** Block until every listener event posted so far has been delivered, so
    * the trace of a pass is complete before it is read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
