package org.apache.spark

/** Test access to the scheduler's private listener bus: `drain` returns
  * once every event posted so far has reached the registered
  * SparkListeners, so a listener's counts are complete for the actions
  * that already returned. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
