package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * traced pass is read only after all of its task ends arrived.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
