package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event is delivered, so the tracer's
  * spans are complete when an op's span is closed. The bus is
  * package-private to Spark, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
