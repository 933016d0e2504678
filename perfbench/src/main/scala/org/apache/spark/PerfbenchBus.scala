package org.apache.spark

/** The listener bus is private to Spark; this lets the benchmark wait
  * until every posted event has been delivered before it reads what its
  * listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
