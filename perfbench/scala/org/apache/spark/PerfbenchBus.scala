package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * every stage and task event has reached the recorder before the run
  * record is written. Keep this file free of logic.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
