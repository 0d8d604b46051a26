package org.apache.spark

/** Test access to the listener bus: block until every event posted so
  * far has reached every listener, so a listener's counts are complete
  * once the action that produced them has returned.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
