package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: waits until every posted event has
  * reached its listeners, so a listener's counts are complete. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
