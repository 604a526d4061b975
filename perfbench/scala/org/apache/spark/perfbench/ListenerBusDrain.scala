package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted to the listener bus so far has reached
  * every listener. The bus is internal to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
