package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * writes its spans out, so no job, stage or task event is lost. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
