package org.apache.spark

/** Tests' access to the driver's listener bus, which is private to Spark. */
object TestListenerBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
