package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * span's counters are complete when it closes (the bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
