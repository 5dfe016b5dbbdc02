package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so meter
  * readings taken after an action are complete. The bus is Spark-private;
  * this package is the one place that can reach it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
