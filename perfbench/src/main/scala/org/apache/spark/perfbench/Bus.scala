package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the spark package. */
object Bus {
  /** Block until every posted listener event has been delivered, so a
    * query's counters are complete before the next query starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
