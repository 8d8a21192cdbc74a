package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * span's task and query metrics are complete before the span is closed.
  * Lives in this package because the listener bus is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
