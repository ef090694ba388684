package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Access to RDD checkpointing, which Spark keeps package-private. */
object Checkpoints {

  /** Materialize a frame checkpointed lazily (local or reliable) by the
    * same job an eager checkpoint runs (compute the missing blocks, then
    * cut the lineage), leaving the caller holding the frame while that
    * job runs — so it can release the blocks if the job fails.
    */
  def materialize(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.doCheckpoint()
      case _ => ()
    }
}
