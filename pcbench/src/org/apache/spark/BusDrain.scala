package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the counters read after an op hold all of that op's jobs. The bus is
  * Spark-internal; this file lives in Spark's package to reach it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
