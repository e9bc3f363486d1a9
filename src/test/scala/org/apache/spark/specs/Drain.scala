package org.apache.spark.specs

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so that a
  * listener has seen every job of an action that has returned. The
  * listener bus is package-private to Spark. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
