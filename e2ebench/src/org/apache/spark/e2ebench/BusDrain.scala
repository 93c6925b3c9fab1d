package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so task
  * metrics read after an op are complete. The bus is package-private to
  * Spark, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
