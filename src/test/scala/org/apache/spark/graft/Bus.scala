package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted listener event has been delivered, so
    * counters read afterwards include all work finished so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
