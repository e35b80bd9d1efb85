package org.apache.spark

/** Test access to the listener bus: wait until every event posted so far
  * has reached the registered listeners. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
