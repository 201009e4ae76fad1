package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * the benchmark reads complete per-operation accounting after an action. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
