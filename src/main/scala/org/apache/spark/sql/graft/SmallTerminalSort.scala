package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input is small
  * and already materialized runs in the one task AQE would give it
  * anyway, with no range-sort sampling job and no range shuffle.
  *
  * A global sort plants a range exchange (origin `ENSURE_REQUIREMENTS`;
  * a user's `repartitionByRange` has another origin and never matches).
  * Running it costs a `RangePartitioner` sampling job over the child,
  * then a map job that shuffles by range, before the result job sorts.
  * When AQE re-plans after the sort's input stages finish, the rule
  * swaps that exchange for `CoalesceExec(1)` if all of these hold:
  *  - every leaf under it is a materialized shuffle or broadcast stage
  *    (never a file scan, a checkpoint's `LogicalRDD` or a cached
  *    table), with no exchange still to run in between;
  *  - every input shuffle has an origin AQE's coalescer may resize (a
  *    user `repartition(n)` keeps its n tasks);
  *  - the stages' map output fits the coalescer's own one-partition
  *    bound, so AQE would already read the input as one partition.
  * `SinglePartition` satisfies the sort's ordered distribution and the
  * re-plan counts one shuffle fewer, so AQE adopts it: the sort runs in
  * the result stage's single task, as a reducer that writes its one
  * partition already sorted. Above the bound, with coalescing off, with
  * AQE off, or in a session without these extensions, plans are
  * unchanged. No conf of its own: the bound is AQE's.
  */
case class SmallTerminalSort(session: SparkSession) extends Rule[SparkPlan] {

  private lazy val coalescable =
    CoalesceShufflePartitions(session).supportedShuffleOrigins.toSet

  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = session.sessionState.conf
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if fitsOneTask(child, conf) =>
        CoalesceExec(1, child)
    }
  }

  private def fitsOneTask(child: SparkPlan, conf: SQLConf): Boolean = {
    val leaves = child.collectLeaves()
    leaves.forall {
      case s: ShuffleQueryStageExec =>
        s.isMaterialized && coalescable(s.shuffle.shuffleOrigin)
      case b: BroadcastQueryStageExec => b.isMaterialized
      case _ => false
    } && !child.exists(_.isInstanceOf[Exchange]) && {
      val bytes = leaves.collect { case s: ShuffleQueryStageExec =>
        s.mapStats.fold(0L)(_.bytesByPartitionId.sum)
      }.sum
      bytes <= oneTaskBound(child, conf)
    }
  }

  /** The largest input `CoalesceShufflePartitions` always packs into one
    * partition: its minimum partition size, unless it runs with no
    * parallelism floor (`parallelismFirst` off, `minPartitionNum` at most
    * 1) over no exploding join, where it packs up to the advisory size.
    */
  private def oneTaskBound(child: SparkPlan, conf: SQLConf): Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val packsToAdvisory =
      !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) &&
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).forall(_ <= 1) &&
        !child.exists {
          case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
          case _ => false
        }
    if (packsToAdvisory)
      minSize max conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    else minSize
  }
}
