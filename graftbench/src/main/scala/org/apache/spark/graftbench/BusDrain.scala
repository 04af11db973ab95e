package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Block until every posted listener event has been delivered, so the
  * benchmark's listener has seen all jobs of the operation that just
  * returned. The listener bus is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
