package graft

/** The session store ([[Materialize]]): the behaviour its callers rely on
  * that no query-level spec isolates — nested builds, failed builds, and
  * the release of checkpoint blocks.
  */
class SessionStoreSpec extends SparkSpec {

  /** A dataset key no query uses, so the entries below are this spec's. */
  private val dir = s"session-store-spec-${java.util.UUID.randomUUID}"

  test("a memo build that memoizes other keys completes") {
    // the CC labels build both signature tables inside their own build;
    // enough inner keys that some share the outer key's hash bin
    val total = Materialize.memo(spark, dir, "outer") {
      (1 to 64).map(i => Materialize.memo(spark, dir, s"inner$i")(i)).sum
    }
    assert(total == (1 to 64).sum)
    assert(Materialize.memo(spark, dir, "inner7")(-1) == 7, "inner value not memoized")
    assert(Materialize.memo(spark, dir, "outer")(-1) == total, "outer value not memoized")
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    var builds = 0
    val e = intercept[IllegalStateException] {
      Materialize.memo[String](spark, dir, "flaky") {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(Materialize.memo(spark, dir, "flaky") { builds += 1; "built" } == "built")
    assert(builds == 2)
    assert(Materialize.memo(spark, dir, "flaky") { builds += 1; "again" } == "built")
    assert(builds == 2)
  }

  test("clear() frees a localCheckpointed value's blocks, in a tuple too") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def ckpt(n: Int) = spark.range(n).toDF("id").localCheckpoint(true)
    val plain = Materialize.memo(spark, dir, "ckpt")(ckpt(10))
    val (inTuple, _) = Materialize.memo(spark, dir, "ckpt-tuple")((ckpt(20), "label"))
    assert(plain.count() == 10 && inTuple.count() == 20)
    val held = sc.getPersistentRDDs.keySet.filterNot(before)
    assert(held.size == 2, s"expected two checkpoints, got $held")
    Materialize.clear()
    assert(sc.getPersistentRDDs.keySet.filterNot(before).isEmpty,
      "clear() left checkpoint blocks behind")
  }

  test("clear() alone frees graph_pagerank's rounds: the store owns the final one") {
    // the round scope hands the final round, which the result reads, to
    // the store; nothing else may be left for the getPersistentRDDs
    // backstop
    val sc = spark.sparkContext
    Materialize.clear()
    val before = sc.getPersistentRDDs.keySet.toSet
    val ranks = SparkEntry.queries("graph_pagerank")(spark, sfDir)
    assert(ranks.count() > 0)
    Materialize.clear()
    assert(sc.getPersistentRDDs.keySet.toSet == before,
      "clear() left graph_pagerank blocks behind")
  }
}
