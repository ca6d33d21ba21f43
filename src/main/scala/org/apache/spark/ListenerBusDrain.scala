package org.apache.spark

import java.util.concurrent.TimeoutException

/** Access to the private[spark] listener bus: blocks until every event
  * already posted has been delivered to its listeners, for at most
  * `timeoutMs`. A backlog still queued at the bound (a slow listener, a
  * burst of events) fails with an error that names it, instead of the
  * bare TimeoutException of Spark's `waitUntilEmpty`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"listener bus still had undelivered events after $timeoutMs ms", e)
    }
}
