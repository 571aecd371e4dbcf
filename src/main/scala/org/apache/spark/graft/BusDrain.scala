package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain is `private[spark]`: waits
  * until every posted event has reached its listeners, so a listener's
  * counts are complete when they are read. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
