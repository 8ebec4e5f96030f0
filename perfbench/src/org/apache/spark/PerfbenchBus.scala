package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's tracer reads complete job and task records. The listener bus
  * is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
