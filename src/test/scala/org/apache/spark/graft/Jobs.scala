package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus is drained
  * ([[Listeners.drain]]) before the count is read, so every job the
  * block started is in it.
  */
object Jobs {

  /** Run `body` on this thread under a fresh job group; `onStart(k,
    * group)` runs on the listener thread as the group's k-th job starts.
    * Returns the body's result and the number of jobs the group started.
    */
  def inGroup[T](sc: SparkContext,
      onStart: (Int, String) => Unit = (_, _) => ())(body: => T): (T, Int) = {
    val group = "graft-jobs-" + System.nanoTime()
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          onStart(n.incrementAndGet(), group)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      Listeners.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
