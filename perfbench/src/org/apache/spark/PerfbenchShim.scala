package org.apache.spark

/** The benchmark reads listener totals after an operation returns; listener
  * events are delivered asynchronously, so it first waits for the bus to
  * deliver everything posted so far. `listenerBus` is `private[spark]`. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
