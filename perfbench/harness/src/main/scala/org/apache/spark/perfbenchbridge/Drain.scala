package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so
  * counters read right after an action include that action's jobs.
  * Lives in Spark's package because the bus is package-private.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
