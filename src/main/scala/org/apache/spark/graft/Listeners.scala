package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Lives in Spark's package for the listener bus, which Spark keeps
  * package-private.
  */
object Listeners {

  /** Wait until every event posted so far has reached the listeners,
    * the streaming query listeners included: their events ride the
    * same bus.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
