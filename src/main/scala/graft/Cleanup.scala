package graft

import org.apache.spark.sql.SparkSession

/** The end-of-run release sequence shared by Bench and Verify — module
  * caches, stream scratch, any surviving persisted RDDs (the CC loop's
  * localCheckpoint blocks), then the session itself. One call site so a
  * new module cache can't be added to one entry point and silently
  * missed in the other (exactly how Similarity's registry was nearly
  * dropped from Verify in round 5). Callers wrap this in try/catch:
  * cleanup is best-effort by contract — every result is already on
  * disk/stdout by the time it runs, and JVM exit plus the scratch
  * shutdown hook reclaim whatever a failed step leaves behind.
  *
  * Not released, on purpose: [[Tables]]' schema catalog. Its entries
  * are immutable metadata keyed by file state, never by session, so they
  * stay valid across sessions — the one memo outside this lifecycle.
  */
object Cleanup {
  def releaseAll(spark: SparkSession): Unit = {
    operators.Dedup.clearCaches()
    operators.ScalarFns.clearCaches()
    operators.RelationalExt.clearCaches()
    operators.Similarity.clearCaches()
    operators.TrainingPipeline.clearCaches()
    operators.TextAnalysis.clearCaches()
    operators.Sources.clearStreamScratch()
    Materialize.clear()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.stop()
  }
}
