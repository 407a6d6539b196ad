package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event
  * posted so far. The listener bus is asynchronous and its drain call
  * is package-private, so this one-line bridge lives in Spark's
  * package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
