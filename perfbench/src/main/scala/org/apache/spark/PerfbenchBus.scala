package org.apache.spark

/** Lives in Spark's package to reach the package-private listener
  * bus: listener counters are only complete once every event posted
  * so far has been delivered, so readers drain the bus first. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
