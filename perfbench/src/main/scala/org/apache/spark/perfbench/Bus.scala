package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus delivers events on its own thread; a trace read
  * before the bus drains would miss the last tasks of a segment. The
  * drain call is package-private to Spark, hence this bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
