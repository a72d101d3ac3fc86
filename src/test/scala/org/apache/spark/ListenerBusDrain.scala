package org.apache.spark

/** Reads Spark's package-private listener bus for the specs. */
object ListenerBusDrain {
  /** Blocks until every posted listener event has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
