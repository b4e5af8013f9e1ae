package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every posted event (the
  * bus is package-private to `org.apache.spark`); throws a TimeoutException
  * rather than return early if that takes Spark's 10 s limit. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
