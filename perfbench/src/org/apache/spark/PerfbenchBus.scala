package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener totals read afterwards are complete. The bus is private to
  * Spark's own package, hence this accessor lives there. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
