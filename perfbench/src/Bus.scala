package org.apache.spark

/** The listener bus is asynchronous; a span may only read the scheduler
  * counters once every event posted before it closed has been delivered.
  * `waitUntilEmpty` is Spark-internal, hence this shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
