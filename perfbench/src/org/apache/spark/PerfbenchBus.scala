package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * span accounting read after a call sees all of that call's tasks.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
