package graft



/** Spill-path CORRECTNESS evidence for the 100 TB story: the
  * memory-heavy operators are re-run with Spark's spill thresholds
  * forced to a handful of rows — window buffers and sort-merge-join
  * buffers pushed out to UnsafeExternalSorter and onto disk, object
  * hash aggregation kicked into its sort-based fallback — and the
  * results must be IDENTICAL to the unconstrained run. SCALE.md's
  * claim so far was a plan claim ("partial aggregation, bounded
  * state"); this is the execution claim that the code paths a real
  * cluster lands in under memory pressure compute the same answer.
  */
class SpillPathSpec extends SparkSpec {

  private val spillConfs = Seq(
    // AQE off so the executed plan is the concrete tree whose spill
    // metrics we read back (plan shape itself is already pinned — with
    // and without AQE — by PlanDigestSpec and PlanShapeSpec)
    "spark.sql.adaptive.enabled" -> "false",
    // ObjectHashAggregate (percentile, collect_list) falls back to
    // sort-based aggregation after 2 distinct keys per partition
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
    // window frames hold at most 2 rows in memory, spill every 4
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.windowExec.buffer.spill.threshold" -> "4",
    // the SMJ buffered-match side likewise
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "4")

  // one per stressed operator: exact percentiles (ObjectHashAggregate),
  // explode+collect (ObjectHashAggregate ×4), running frames (Window),
  // full-outer merge (SortMergeJoin)
  private val queries =
    Seq("rel_percentile", "inverted_index", "rel_window_frames", "rel_join_full")

  test("forced-spill runs are row-identical to unconstrained runs, and " +
      "the constrained runs actually spill") {
    val baselines = queries.map { q =>
      q -> SparkEntry.queries(q)(spark, sfDir).collect().toSeq
    }
    var spilled = 0L
    withConfs(spillConfs: _*) {
      baselines.foreach { case (q, expected) =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        val constrained = df.collect().toSeq
        assert(constrained == expected,
          s"$q diverged under forced spill — the spill path computes a " +
            s"different answer")
        // spill-size SQLMetrics are accumulator-fed and final once
        // collect() returns; AQE is off in this scope so the executed
        // plan is the concrete tree
        spilled += df.queryExecution.executedPlan.collect { case p =>
          p.metrics.collect {
            case (k, m) if k.toLowerCase.contains("spill") => math.max(m.value, 0L)
          }.sum
        }.sum
      }
    }
    assert(spilled > 0L,
      "no operator reported spill — thresholds no longer force the " +
        "spill path and this test is vacuous")
  }
}
