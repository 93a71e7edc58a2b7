package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private. */
object PerfbenchBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
