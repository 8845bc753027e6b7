package org.apache.spark

/** The listener bus is asynchronous; a traced step waits for it to empty
  * so the counters of a [[org.apache.spark.scheduler.SparkListener]]
  * cover exactly the calls made before the wait.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
