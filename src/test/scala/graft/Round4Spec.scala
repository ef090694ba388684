package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-4 hardening of ConnectedComponents:
  * empty-edge safety, pointer-jumping convergence speed, and loud
  * failure on truncation.
  */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  test("connected components: empty edge set returns singletons") {
    val nodes = (0L until 5L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = operators.ConnectedComponents.labels(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 5L).map(i => i -> i).toMap)
  }

  test("pointer jumping converges in O(log diameter) rounds on a path") {
    // a 64-node path has diameter 63: plain neighbor propagation needs
    // ~63 rounds, far past maxIters — convergence here proves the
    // pointer-jumping recurrence actually halves paths each round
    val n = 64L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val got = operators.ConnectedComponents.labels(nodes, edges, maxIters = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until n).map(i => i -> 0L).toMap)
  }

  test("even maxIters converges on a graph that settles in its last round") {
    // one edge: round 1 relabels node 1, round 2 changes nothing. With
    // maxIters = 2 a lone gap-2 check at the budget edge would compare
    // round 2 against round 0 — a sum change — and falsely throw
    // NotConverged on a converged graph; the every-round checks near
    // the edge (iters >= maxIters - 1) see the round-1/round-2 fixpoint.
    val nodes = (0L until 2L).toDF("id")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    val got = operators.ConnectedComponents.labels(nodes, edges, maxIters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L))
  }

  test("non-convergence throws NotConverged instead of returning labels") {
    val n = 32L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assertThrows[operators.ConnectedComponents.NotConverged] {
      operators.ConnectedComponents.labels(nodes, edges, maxIters = 1).collect()
    }
    // the loop's edge table and live round are freed with the error
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
