package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after a job are complete (the bus is `private[spark]`).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
