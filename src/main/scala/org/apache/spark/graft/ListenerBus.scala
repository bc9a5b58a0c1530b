package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * counters a listener keeps are complete when a timed run ends. The
  * listener bus is private to Spark, hence the package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
