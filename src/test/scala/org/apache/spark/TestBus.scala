package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs wait on it
  * so every event posted so far has reached their listener.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
