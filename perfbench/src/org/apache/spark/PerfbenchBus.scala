package org.apache.spark

/** Listener-bus barrier: task and job events reach listeners
  * asynchronously, so a span's counters are complete only once the bus has
  * delivered every event posted before this call. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
