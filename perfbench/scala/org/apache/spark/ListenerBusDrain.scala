package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so the traced run's counters are complete before they are read. The bus
  * is internal to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
