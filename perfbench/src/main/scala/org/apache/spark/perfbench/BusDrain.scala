package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously. Spans wait for the bus to empty
  * at each boundary so that every event of the span's work is counted in
  * that span (the wait is package-private to Spark, hence this package). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
