package org.apache.spark

/** Drains Spark's listener bus, so that every event a key's calls posted
  * has reached the trace listeners before the key's counters are read.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
