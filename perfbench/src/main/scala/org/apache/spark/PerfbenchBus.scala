package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so counters read after an action include all of its tasks.
  * The bus is `private[spark]`; this one-line bridge lives in Spark's
  * package for that reason only. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
