package org.apache.spark

/** Listeners registered on a context's listener bus, counted once the bus
  * has delivered every event posted so far. The bus is internal to Spark,
  * hence this package. */
object ListenerCount {
  def apply(sc: SparkContext): Int = {
    sc.listenerBus.waitUntilEmpty()
    sc.listenerBus.listeners.size
  }
}
