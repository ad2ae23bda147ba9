package org.apache.spark

/** The listener bus drain is private to Spark; the benchmark needs it so a
  * timed call's task and job events are all counted before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
