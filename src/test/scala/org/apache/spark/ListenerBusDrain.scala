package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's counts are read only after all of them arrived (the bus is
  * private to Spark, hence this package).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
