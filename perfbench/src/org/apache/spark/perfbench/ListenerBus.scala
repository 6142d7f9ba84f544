package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus is package-private to Spark; the benchmark
  * needs one call on it — wait until every posted event reached its
  * listeners — before it reads a listener's totals. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
