package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the spark package. */
object ListenerBus {
  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
