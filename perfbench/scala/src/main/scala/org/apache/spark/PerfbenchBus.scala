package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * listener events are delivered asynchronously, so per-request Spark
  * figures are only complete once the bus has caught up. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
