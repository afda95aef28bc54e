package org.apache.spark

/** Test access to the listener bus: once `apply` returns, every listener
  * has seen the events of all jobs and queries run before the call.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
