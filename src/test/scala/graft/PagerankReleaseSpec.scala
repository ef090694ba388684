package graft

import org.apache.spark.graft.Jobs

/** The pagerank, connected-components and BPE merge loops hold their
  * inputs and live rounds as persisted or localCheckpoint blocks that
  * nothing outside the loop can reach. A round that fails mid-loop must
  * release them before the error leaves the builder, or every failed
  * query strands its blocks until the end of the run.
  */
class PagerankReleaseSpec extends SparkSpec {

  /** Run query `q`'s builder, cancelling its job group from a listener
    * at every job start from the `cancelFrom`-th on (0 = never). Returns
    * the jobs started and the builder's error.
    */
  private def build(q: String, cancelFrom: Int): (Int, Option[Throwable]) = {
    val sc = spark.sparkContext
    val (err, jobs) = Jobs.inGroup(sc, (k, group) =>
        if (cancelFrom > 0 && k >= cancelFrom) sc.cancelJobGroup(group)) {
      try { SparkEntry.queries(q)(spark, sfDir); None }
      catch { case e: Throwable => Some(e) }
    }
    (jobs, err)
  }

  /** Each loop's query, its name in the test, and what makes a warm
    * build run the loop again: dedup_cc memoizes its labels and
    * text_bpe_train its trained merges.
    */
  private val loops: Seq[(String, String, () => Unit)] = Seq(
    ("graph_pagerank", "pagerank", () => ()),
    ("dedup_cc", "connected-components",
      () => Materialize.forget(spark, sfDir, operators.Dedup.CcLabels)),
    ("text_bpe_train", "BPE merge",
      () => Materialize.forget(spark, sfDir, "text.bpe@10")))

  for ((q, loop, rerun) <- loops)
  test(s"a cancelled $loop round releases the loop's checkpoints") {
    val sc = spark.sparkContext
    // a complete build fills the signature memos the loop's input reads;
    // the second counts the jobs of a warm build, nearly all loop jobs
    rerun()
    assert(build(q, 0)._2.isEmpty)
    rerun()
    val (jobs, ok) = build(q, 0)
    assert(ok.isEmpty && jobs >= 6, s"a warm build started $jobs jobs")
    // every cut point: an input table, a round's shuffle-stage or a
    // round's checkpoint job — the last leaves partly stored blocks
    for (k <- 1 to jobs) {
      rerun()
      val before = sc.getPersistentRDDs.keySet
      val (_, err) = build(q, k)
      assert(err.isDefined, s"cancelling from job $k of $jobs must fail the build")
      assert(sc.getPersistentRDDs.keySet == before,
        s"persisted RDDs changed after a build cancelled from job $k of $jobs")
    }
  }
}
