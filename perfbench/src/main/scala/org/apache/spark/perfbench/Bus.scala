package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` seam the benchmark needs: listener events
  * are delivered asynchronously, so per-op counts are read only after
  * the bus has delivered everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
