package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * span summary sees the task metrics of the jobs it just ran. The bus
  * is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
