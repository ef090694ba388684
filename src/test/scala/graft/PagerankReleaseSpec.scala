package graft

import java.util.concurrent.CancellationException
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.graft.{Jobs, Listeners}

/** The pagerank, connected-components and BPE merge loops hold their
  * inputs and live rounds as persisted or localCheckpoint blocks that
  * nothing outside the loop can reach, and a `Materialize.once` slot
  * holds its checkpoint the same way while it materializes. A build that
  * fails mid-way must release them before the error leaves the builder,
  * or every failed query strands its blocks until the end of the run.
  */
class PagerankReleaseSpec extends SparkSpec {

  /** Run query `q`'s builder, cutting it from the `cancelFrom`-th job on
    * (0 = never). Returns the jobs started and the builder's error.
    *
    * The cut is deterministic. The listener sees the k-th job start on
    * the listener bus and cancels the job group together with every job
    * the group starts later. The cancel may land after a short job has
    * already finished, so the session store's step hook also drains the
    * bus after each materialization and as each round scope exits, and
    * fails the build there once a cut was requested.
    */
  private def build(q: String, cancelFrom: Int): (Int, Option[Throwable]) = {
    val sc = spark.sparkContext
    val cut = new AtomicBoolean
    Materialize.onStep = () => {
      Listeners.drain(sc)
      if (cut.get) throw new CancellationException(s"$q cut from job $cancelFrom")
    }
    try {
      val (err, jobs) = Jobs.inGroup(sc, (k, group) =>
          if (cancelFrom > 0 && k >= cancelFrom) {
            cut.set(true)
            sc.cancelJobGroupAndFutureJobs(group)
          }) {
        try { SparkEntry.queries(q)(spark, sfDir); None }
        catch { case e: Throwable => Some(e) }
      }
      (jobs, err)
    } finally Materialize.onStep = () => ()
  }

  /** Build `q` warm, then cut it at every job: each cut build must fail,
    * and `unchanged(after, before)` must hold of the persisted RDD ids.
    */
  private def cutAtEveryJob(q: String, rerun: () => Unit, minJobs: Int)(
      unchanged: (Set[Int], Set[Int]) => Boolean): Unit = {
    val sc = spark.sparkContext
    // a complete build fills the signature memos the loop's input reads;
    // the second counts the jobs of a warm build, nearly all loop jobs
    rerun()
    assert(build(q, 0)._2.isEmpty)
    rerun()
    val (jobs, ok) = build(q, 0)
    assert(ok.isEmpty && jobs >= minJobs, s"a warm build started $jobs jobs")
    // every cut point: an input table, a round's shuffle-stage or a
    // round's checkpoint job — the last leaves partly stored blocks
    for (k <- 1 to jobs) {
      rerun()
      val before = sc.getPersistentRDDs.keySet.toSet
      val (_, err) = build(q, k)
      assert(err.isDefined, s"cancelling from job $k of $jobs must fail the build")
      assert(unchanged(sc.getPersistentRDDs.keySet.toSet, before),
        s"persisted RDDs changed after a build cancelled from job $k of $jobs")
    }
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
    cutAtEveryJob(q, rerun, minJobs = 6)(_ == _)
  }

  test("a cancelled Materialize.once build releases its checkpoint") {
    // text_pii_scrub materializes its projection through `once`, which
    // frees the previous build's slot first: a cut build may leave fewer
    // persisted RDDs than before it, never one that was not there
    cutAtEveryJob("text_pii_scrub", () => (), minJobs = 1)(_ subsetOf _)
  }
}
