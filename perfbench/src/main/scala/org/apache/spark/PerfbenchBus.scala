package org.apache.spark

/** Listener events arrive on Spark's bus thread, after the action that
  * caused them has returned. The traced run waits for the bus to empty at
  * each phase boundary so every event lands in the phase that caused it;
  * the bus is `private[spark]`, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
