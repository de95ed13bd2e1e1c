package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * a listener's counts are complete when the benchmark reads them.
  * The bus is private to the `org.apache.spark` package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
