package org.apache.spark

/** Test access to the private[spark] listener bus: blocks until every
  * event already posted has been delivered to its listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
