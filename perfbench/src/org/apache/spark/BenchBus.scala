package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters are complete when the benchmark reads them. The bus
  * is `private[spark]`, hence this one-line bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
