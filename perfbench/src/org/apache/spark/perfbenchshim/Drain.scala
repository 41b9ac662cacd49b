package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * traced run's collector has seen all jobs and stages before it reports.
  * Lives in Spark's package because the listener bus is package-private.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
