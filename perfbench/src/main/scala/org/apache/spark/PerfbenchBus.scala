package org.apache.spark

/** The listener bus delivers events on its own thread; a pass's counters
  * are complete only once the bus has drained. The drain call is
  * package-private to Spark, hence this accessor's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
