package graft

import org.apache.spark.sql.functions._

/** Pins the round-13 structural claim that no oracle row can see
  * directly: the BPE train path retains O(1) checkpointed rounds, not
  * O(merges) — the round-13 eager-argmax fix. The old shape kept every
  * round's localCheckpoint blocks alive through the lazy per-round
  * argmax frames (BpeLadderBench measured the 3× per-round bookkeeping
  * growth by round 1000); the fix is only real if the persistent-RDD
  * census stays flat as the merge count grows, which is exactly what
  * this asserts.
  */
class Round13Spec extends SparkSpec {

  test("the BPE train path retains O(1) checkpointed rounds: the " +
      "persistent-RDD census stays flat as merges grow") {
    def census: Int = spark.sparkContext.getPersistentRDDs.size
    def trainDelta(merges: Int): Int = {
      val before = census
      val (bests, vocab, _) = operators.TextAnalysis.bpeRounds(spark, sfDir, merges)
      // force both outputs the way the contract queries do
      assert(bests.count() >= 0)
      assert(vocab.agg(count(lit(1))).collect().head.getLong(0) > 0)
      val delta = census - before
      // release this run's surviving final-round blocks so repeated
      // calls (and later suites) see a clean census
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      delta
    }
    val d5 = trainDelta(5)
    val d25 = trainDelta(25)
    // only the FINAL round's checkpoint survives the loop (plus, at
    // most, one transient): the census delta must not grow with the
    // merge count — the O(merges) retention was the r12 defect
    assert(d5 <= 2, s"5-merge train left $d5 persisted RDDs")
    assert(d25 <= 2, s"25-merge train left $d25 persisted RDDs")
    assert(d25 <= d5 + 1,
      s"retained blocks grew with merge count: $d5 -> $d25")
  }
}
