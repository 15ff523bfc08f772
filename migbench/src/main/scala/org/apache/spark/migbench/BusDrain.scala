package org.apache.spark.migbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so that
  * counters read right after an action include that action.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
