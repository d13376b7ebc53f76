package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's `private[spark]` drain, so the benchmark
  * reads its listener's counters only after every posted event arrived. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
