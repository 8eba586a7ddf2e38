package org.apache.spark

/** Test shim: wait until every event posted so far reached the
  * listeners (`listenerBus` is `private[spark]`).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
