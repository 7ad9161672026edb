package org.apache.spark.flagbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark drains it before
  * reading listener counters at a pass boundary. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
