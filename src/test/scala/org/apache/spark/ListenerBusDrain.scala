package org.apache.spark

/** Specs that count listener events read them after this: it blocks
  * until every event posted so far has reached every listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
