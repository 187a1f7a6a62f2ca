package org.apache.spark

/** Test access to the listener bus: block until every event posted so
  * far has reached the listeners, so a test can count what an action
  * ran right after it returns.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
