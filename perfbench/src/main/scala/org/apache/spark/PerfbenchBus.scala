package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBus {
  /** Blocks until every posted listener event has been handled. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
