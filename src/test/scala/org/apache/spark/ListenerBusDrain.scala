package org.apache.spark

/** Blocks until every posted listener event has been delivered (the
  * bus itself is private to Spark).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
