package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to SparkContext's asynchronous listener bus, which is package-private
  * to Spark: the benchmark drains it so that every event posted so far has
  * reached every listener before the listeners' totals are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
