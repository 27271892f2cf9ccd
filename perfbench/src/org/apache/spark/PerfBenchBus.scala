package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener events are delivered asynchronously, so counters are read only
  * after every event posted so far has been processed.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
