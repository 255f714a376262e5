package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it so
  * that every event of one operation is counted before the next starts.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
