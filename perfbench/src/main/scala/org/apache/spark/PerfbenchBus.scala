package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run drains it after each measured operation so listener
  * events are attributed to the operation that caused them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
