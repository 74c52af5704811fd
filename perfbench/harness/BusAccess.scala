package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it after
  * each operation so every job, task and query-execution event of that
  * operation has been seen before the next one starts. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
