package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * traced segment's counters are complete before they are read. The bus
  * is private to Spark; this one-line bridge is the only reason the
  * benchmark has a file in Spark's package.
  */
object BusDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
