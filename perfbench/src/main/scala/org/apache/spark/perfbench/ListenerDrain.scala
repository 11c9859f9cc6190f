package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so
  * a reader of listener state sees every job and task that has ended. The
  * listener bus is package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
