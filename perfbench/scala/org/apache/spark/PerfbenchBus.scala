package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. The
  * benchmark reads its listener's counters only after every event of the
  * measured operation has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
