package org.apache.spark

/** Reaches the `private[spark]` listener bus so that a traced run can
  * wait, once and after its last timed query, until every event has been
  * delivered. Untraced runs never call it. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
