package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reach for the listener bus, which Spark keeps `private[spark]`: the
  * benchmark reads a query's own plan metrics from its listener events,
  * so it must wait until the bus has delivered them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
