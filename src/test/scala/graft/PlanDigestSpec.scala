package graft

import org.apache.spark.sql.execution.debug.codegenStringSeq

/** Automated PLANS.md: every batch query's prepared physical plan is
  * digested ([[plans.PlanDigest]]) and diffed against the committed
  * `PLAN_DIGEST.json`, so a silent plan flip — a Spark upgrade
  * changing a strategy, a stats drift toggling a broadcast, an edit
  * dropping a pushdown — fails CI with a readable per-query diff
  * instead of surfacing rounds later as a bench regression.
  *
  * Regenerate (after REVIEWING the diff — the snapshot is the spec):
  *   SPARK_GRAFT_UPDATE_PLAN_DIGEST=1 sbt "testOnly graft.PlanDigestSpec"
  */
class PlanDigestSpec extends SparkSpec {

  private val snapshot = java.nio.file.Paths.get("PLAN_DIGEST.json")

  test("prepared plans match the committed PLAN_DIGEST.json snapshot") {
    // suites share one session; frames cached by earlier suites would be
    // substituted into these plans (InMemoryTableScan, stats-flipped
    // build sides). Catalog clearCache alone is NOT enough: the modules
    // memoize their persisted intermediates (Dedup's signature table),
    // so an unpersisted-but-memoized frame would be reused and the
    // digest would LOSE the InMemoryTableScan the fresh-JVM snapshot
    // has. Reset memos + cache to the fresh-JVM state on both sides.
    freshCacheState()
    try snapshotCheck()
    finally freshCacheState()
  }

  private def freshCacheState(): Unit = {
    // EVERY module memo must reset here: catalog.clearCache() drops the
    // CacheManager entries, and a module memo still holding a frame
    // whose cache registration was just dropped digests as the raw
    // (uncached) plan — exactly the order-dependent divergence the
    // round-15 spine memo exposed when a prior suite had built it.
    // Every memo lives in the one session store.
    Materialize.clear()
    spark.catalog.clearCache()
  }

  private def snapshotCheck(): Unit = {
    val current = plans.PlanDigest.all(spark, sfDir)
    if (sys.env.get("SPARK_GRAFT_UPDATE_PLAN_DIGEST").contains("1")) {
      plans.PlanDigest.write(snapshot, current)
      info(s"snapshot regenerated: ${current.size} queries")
    } else {
      assert(java.nio.file.Files.exists(snapshot),
        "PLAN_DIGEST.json missing — generate with " +
          "SPARK_GRAFT_UPDATE_PLAN_DIGEST=1 sbt 'testOnly graft.PlanDigestSpec'")
      val committed = plans.PlanDigest.read(snapshot)
      val firstDiffs = diff(committed, current)
      if (firstDiffs.nonEmpty) {
        // a REAL plan flip (code edit, Spark upgrade, stats drift) is
        // deterministic and reproduces on recompute; a one-off anomaly
        // does not — recompute once before failing, and keep forensics
        // either way so an intermittent divergence is diagnosable from
        // the artifact, not from memory
        val dir = java.nio.file.Paths.get("target")
        java.nio.file.Files.createDirectories(dir)
        plans.PlanDigest.write(dir.resolve("plan_digest_firstpass.json"), current)
        val recomputed = plans.PlanDigest.all(spark, sfDir)
        val secondDiffs = diff(committed, recomputed)
        if (secondDiffs.nonEmpty)
          plans.PlanDigest.write(dir.resolve("plan_digest_diverged.json"), recomputed)
        assert(secondDiffs.isEmpty,
          "physical plans diverged from PLAN_DIGEST.json (-committed / " +
            "+current), reproducibly within this JVM. If the flip is " +
            "intended, review it and regenerate the snapshot.\n" +
            secondDiffs.mkString("\n"))
        info("first digest pass diverged but the recompute matched — " +
          "transient; first pass kept at target/plan_digest_firstpass.json\n" +
          firstDiffs.mkString("\n"))
      }
    }
  }

  private def diff(committed: Map[String, Seq[String]],
      current: Map[String, Seq[String]]): Seq[String] = {
    val names = (committed.keySet ++ current.keySet).toSeq.sorted
    names.flatMap { n =>
      (committed.get(n), current.get(n)) match {
        case (Some(a), Some(b)) if a == b => None
        case (Some(a), Some(b)) =>
          val changed = a.map(Option(_)).zipAll(b.map(Option(_)), None, None)
            .collect { case (x, y) if x != y =>
              s"      -${x.getOrElse("<absent>")}\n      +${y.getOrElse("<absent>")}"
            }
          Some(s"  $n:\n${changed.mkString("\n")}")
        case (None, Some(_)) => Some(s"  $n: query not in snapshot")
        case (Some(_), None) => Some(s"  $n: query no longer digestable")
        case _               => None
      }
    }
  }

  test("no whole-stage codegen method reaches HotSpot's 8000-byte " +
      "JIT limit") {
    // HotSpot never JIT-compiles a method of 8000 bytecode bytes or more
    // (DontCompileHugeMethods), while Spark keeps whole-stage codegen up
    // to spark.sql.codegen.hugeMethodLimit = 65535: a stage in between
    // runs in the bytecode interpreter for the life of the JVM. Every
    // digested query's prepared plan is compiled here and each codegen
    // subtree's largest method must stay below the JIT's limit.
    val limit = 8000
    freshCacheState()
    try {
      val sizes = withConfs("spark.sql.adaptive.enabled" -> "false") {
        plans.PlanDigest.digestableQueries.map { n =>
          val plan = plans.PlanDigest.prepared(spark,
            SparkEntry.queries(n)(spark, sfDir))
          n -> codegenStringSeq(plan).map(_._3.maxMethodCodeSize)
            .foldLeft(0)(math.max)
        }
      }
      info("largest methods: " + sizes.sortBy(-_._2).take(3)
        .map { case (n, b) => s"$n $b bytes" }.mkString(", "))
      val over = sizes.filter(_._2 >= limit)
      assert(over.isEmpty, s"generated methods at or past $limit bytes " +
        s"run interpreted: ${over.map { case (n, b) => s"$n $b" }.mkString(", ")}")
    } finally freshCacheState()
  }

  test("digest is deterministic within a session") {
    // two independent digest passes over freshly-constructed frames
    // must agree byte for byte — catches any run-varying token
    // (expression id, path, tag) the normalizer misses, BEFORE it
    // shows up as cross-host snapshot churn
    val sample = Seq("rel_sql_tpch_q3", "dedup_minhash_pairs", "sim_topk_ivf",
      "text_tfidf", "rel_bucketed_join", "wordcount")
    sample.foreach { n =>
      val a = plans.PlanDigest.digest(spark, SparkEntry.queries(n)(spark, sfDir))
      val b = plans.PlanDigest.digest(spark, SparkEntry.queries(n)(spark, sfDir))
      assert(a == b, s"$n digest unstable within one session")
    }
  }
}
