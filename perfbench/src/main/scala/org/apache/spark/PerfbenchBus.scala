package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark needs
  * it to read its counters only after every event of an iteration arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
