package org.apache.spark

/** Test access to the session's listener bus: listener events (job
  * starts, query-execution callbacks) are delivered asynchronously, so a
  * spec that counts them must wait for the bus to drain first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
