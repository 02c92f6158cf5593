package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so that
  * its counts are complete before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
