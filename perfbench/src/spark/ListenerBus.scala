package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the engine counts read after an operation include all of its jobs.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
