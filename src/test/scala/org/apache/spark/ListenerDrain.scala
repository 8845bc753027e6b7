package org.apache.spark

/** Test-side door to `LiveListenerBus.waitUntilEmpty` (`private[spark]`):
  * once it returns, every event posted before the call has reached the
  * listeners, so a job count read afterwards is complete.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
