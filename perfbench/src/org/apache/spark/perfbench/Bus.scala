package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private. */
object Bus {

  /** Blocks until every posted listener event has been delivered, so the
    * traced run reads complete counters after each query. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
