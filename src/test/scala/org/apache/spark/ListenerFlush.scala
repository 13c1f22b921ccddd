package org.apache.spark

/** Test access to the driver's listener bus: blocks until every event
  * posted so far has reached its listeners, so a spec can read counts a
  * `SparkListener` took during the actions it just ran. */
object ListenerFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
