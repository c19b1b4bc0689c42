package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the trace needs one call on it:
  * wait until every queued event (task ends included) has reached the
  * listeners, so a span's task metrics are complete when it closes. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
