package graft

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The AQE rule `SmallTerminalSort` sorts a small, already-materialized
  * input in its one task: no range-sort sampling job, no range shuffle.
  * Each case compares a run under the session's own AQE confs with the
  * same run where the rule cannot fire, and pins where it must not.
  */
class SmallTerminalSortSpec extends SparkSpec {

  private val minPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Build and collect `df` under a fresh job group: its rows, the jobs
    * started and whether the final adaptive plan keeps a range exchange.
    */
  private def run(df: => DataFrame): (Seq[Row], Int, Boolean) = {
    val ((rows, plan), jobs) = Jobs.inGroup(spark.sparkContext) {
      val d = df
      val rows = d.collect().toSeq
      // the final plan only: an adaptive plan's string ends with its
      // initial plan, which always has the exchange
      (rows, d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      })
    }
    (rows, jobs, plan.toLowerCase.contains("rangepartitioning"))
  }

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)

  for (q <- Seq("inverted_index", "rel_join_inner"))
    test(s"$q sorts its small shuffled input in one task, two jobs fewer") {
      run(query(q)) // fills the builder's memos, so both runs below are warm
      val (rows, jobs, ranged) = run(query(q))
      val (rowsOff, jobsOff, rangedOff) =
        withConfs(minPartitionSize -> "1b")(run(query(q)))
      assert(rangedOff, "with a 1-byte bound the sort keeps its range exchange")
      assert(!ranged, "the final adaptive plan still has a range exchange")
      assert(jobsOff - jobs == 2,
        s"$jobs jobs with the rule vs $jobsOff without: the sampling and range-map jobs")
      assert(rows == rowsOff)
    }

  private def nation: DataFrame = Tables.table(spark, sfDir, "nation")

  test("the range exchange stays over a scan, a user repartition, and with coalescing off") {
    val keep = Seq(
      "a sort directly over a parquet scan" -> run(nation.orderBy("n_name")),
      "a repartitionByRange over a small shuffle stage" -> run(
        nation.groupBy("n_regionkey").count()
          .repartitionByRange(4, col("n_regionkey"))),
      "a sort over a repartition(4) stage" -> run(
        nation.repartition(4).orderBy("n_name")),
      "coalescePartitions.enabled=false" -> withConfs(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
        run(query("inverted_index"))))
    for ((what, (_, _, ranged)) <- keep)
      assert(ranged, s"$what lost its range exchange")
  }
}
