package org.apache.spark

/** The listener bus is package-private; the traced run must see every
  * task-end event before it reads its counters.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
