package org.apache.spark

/** Waits until every listener event posted so far has been delivered;
  * Spark keeps the bus package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
