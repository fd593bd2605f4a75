package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; counters are only complete
  * once every posted event has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
