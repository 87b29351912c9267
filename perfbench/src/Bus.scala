package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener has seen the events posted so far, so a span
  * can read its task metrics as soon as its jobs returned. The listener bus
  * is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
