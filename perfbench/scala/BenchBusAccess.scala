package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading its spans so that no event of the timed phase is missed. */
object BenchBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
