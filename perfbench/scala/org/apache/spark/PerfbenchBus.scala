package org.apache.spark

/** Drains the listener bus so listener-derived metrics are complete
  * before they are read (`waitUntilEmpty` is private to Spark).
  */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
