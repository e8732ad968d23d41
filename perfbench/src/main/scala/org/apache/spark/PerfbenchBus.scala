package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The benchmark uses it to attribute listener counters to one op. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
