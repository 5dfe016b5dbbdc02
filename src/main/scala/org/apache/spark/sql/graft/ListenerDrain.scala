package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every queued event, so
  * metrics a SparkListener collects are complete once an action returns.
  * The bus is `private[spark]`; this package can reach it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
