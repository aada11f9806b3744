package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark: the traced run
  * drains it after each operation so every listener event is attributed
  * to the operation that caused it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
