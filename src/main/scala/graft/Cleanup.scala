package graft

import org.apache.spark.sql.SparkSession

/** The end-of-run release sequence shared by Bench and Verify — the
  * session store ([[Materialize.clear]]: every memo, tracked persist
  * and `once` slot), stream scratch, any surviving persisted RDDs (the
  * backstop for blocks no store entry reaches), then the session
  * itself. One call site, so an entry point cannot miss a release the
  * other makes. Callers wrap this in try/catch: cleanup is best-effort
  * by contract — every result is already on disk/stdout by the time it
  * runs, and JVM exit plus the scratch shutdown hook reclaim whatever a
  * failed step leaves behind.
  *
  * Not released, on purpose: [[Tables]]' schema catalog. Its entries
  * are immutable metadata keyed by file state, never by session, so they
  * stay valid across sessions — the one memo outside the store.
  */
object Cleanup {
  def releaseAll(spark: SparkSession): Unit = {
    Materialize.clear()
    operators.Sources.clearStreamScratch()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.stop()
  }
}
