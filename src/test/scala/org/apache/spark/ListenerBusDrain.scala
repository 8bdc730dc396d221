package org.apache.spark

/** Test access to the listener bus: waits until every queued event has been
  * delivered, so a listener's counts include the jobs that just ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
