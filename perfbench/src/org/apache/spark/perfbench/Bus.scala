package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted event has reached its listeners, so a
    * recorder read afterwards holds the whole run. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
