package org.apache.spark

/** Access shim for `SparkContext.listenerBus` (private[spark]): the
  * benchmark reads its listener's counters only after every event of the
  * finished jobs has been delivered, which the public API cannot wait for. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
