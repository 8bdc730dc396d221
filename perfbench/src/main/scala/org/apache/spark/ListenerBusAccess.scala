package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * counts a span reads at its end include the jobs it ran.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
