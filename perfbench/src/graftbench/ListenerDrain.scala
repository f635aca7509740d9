package org.apache.spark

/** Waits until every event posted so far has reached the listeners (the
  * bus is private to Spark). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
