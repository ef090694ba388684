package graft

import org.apache.spark.sql.SparkSession

/** The release sequence every entry point shares — the session store
  * ([[Materialize.clear]]: every memo, tracked persist and `once` slot),
  * the scratch files this process wrote ([[Fs.releaseScratch]]), any
  * surviving persisted RDDs (the backstop for blocks no store entry
  * reaches), then, at the end of a run, the session itself. One
  * definition, so an entry point cannot miss a release another makes.
  * [[Session.run]] calls `releaseAll` best-effort: every
  * result is already on disk/stdout by the time it runs, and JVM exit
  * plus the scratch shutdown hook reclaim whatever a failed step leaves
  * behind.
  *
  * Not released, on purpose: [[Tables]]' schema catalog. Its entries
  * are immutable metadata keyed by file state, never by session, so they
  * stay valid across sessions — the one memo outside the store.
  */
object Cleanup {
  /** Everything but the stop: the session stays usable. */
  def release(spark: SparkSession): Unit = {
    Materialize.clear()
    Fs.releaseScratch()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def releaseAll(spark: SparkSession): Unit = {
    release(spark)
    spark.stop()
  }
}
