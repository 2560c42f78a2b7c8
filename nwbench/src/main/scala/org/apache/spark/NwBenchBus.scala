package org.apache.spark

/** Drains the listener bus, whose wait is visible only inside `org.apache.spark`. */
object NwBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
