// Hosted under org.apache.spark.* because SparkContext.listenerBus is
// private[spark].
package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Wait (bounded) until every posted listener event was delivered,
  * so listener-fed counters and the status store are current. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
