package graft

import graft.operators.{Similarity, SyntheticVectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, Expression,
  GreaterThanOrEqual, LessThanOrEqual, ZipWith}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graft.DotProductD

/** Recall floors for the parameterized ANN API at the settings SCALE.md
  * documents — the statistical guarantee the planted-copy fixtures
  * cannot give. Everything is deterministic (fixed-seed corpus, fixed
  * plans, 6-dp-rounded scores), so these are exact regression pins with
  * margin, not flaky statistical tests: at this corpus the measured
  * values are LSH(8×8) = 0.962 and IVF(nprobe=2/128) = 1.000
  * (n=10000 nq=50; the 50k run in SCALE.md §"ANN recall vs cost" reads
  * 0.960 / 1.000). A drop below the floor means candidate generation
  * silently lost collisions — the regression class this spec exists to
  * catch.
  */
class AnnRecallSpec extends SparkSpec {

  private val K = 10

  /** |approx ∩ truth| / |truth| over (qid, vec_id) pairs — overall
    * recall@k (truth has exactly k rows per query, so micro == macro
    * up to per-query candidate shortfalls, which count as misses).
    */
  private def recallVs(truth: DataFrame, approx: DataFrame): Double = {
    val t = truth.select("qid", "vec_id")
    val hit = t.join(approx.select("qid", "vec_id"), Seq("qid", "vec_id"))
      .count()
    hit.toDouble / t.count()
  }

  /** Exact cosine of EVERY pair (va < vb, 6-dp-rounded like
    * [[operators.Similarity.nearDupPairs]]) — the ground truth the pair
    * curve thresholds per minSim. All-pairs by construction (that is
    * what makes it truth), so only run it on measurement-sized corpora;
    * the one-sided broadcast keeps it a single streaming nested-loop
    * pass.
    */
  private def pairSims(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, round}
    import org.apache.spark.sql.graft.VectorColumns.{vecDot, vecNorm}
    val e = corpus.select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(broadcast(b), col("va") < col("vb"))
      .withColumn("sim",
        round(vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .select("va", "vb", "sim")
  }

  /** (pair recall, false pairs) of `found` against `truth` (both
    * (va, vb) sets). False pairs are found-but-not-true — structurally
    * zero for nearDupPairs because its verify stage is the same exact
    * cosine as the truth; the count is measured anyway so the claim is
    * an observation, not an argument.
    */
  private def pairStats(truth: DataFrame, found: DataFrame): (Double, Long) = {
    val t = truth.select("va", "vb")
    val f = found.select("va", "vb")
    val hit = f.join(t, Seq("va", "vb")).count()
    (hit.toDouble / math.max(t.count(), 1L), f.count() - hit)
  }

  test("recall@10 floors: sign-LSH >= 0.9 at 8 tables x 8 bits, IVF " +
      ">= 0.99 at nprobe=2 of 128 k-means cells; brute is the baseline") {
    val (corpus0, queries0) =
      SyntheticVectors.corpusAndQueries(spark, 10000, 50, 64, 128, 42L)
    val corpus = corpus0.persist(); val queries = queries0.persist()
    try {
      val truth = Similarity.annBrute(corpus, queries, K).persist()
      assert(truth.count() == 50L * K, "baseline must yield full top-k")

      val lsh = recallVs(
        truth, Similarity.annLsh(corpus, queries, K, bands = 8, bits = 8))
      assert(lsh >= 0.9, s"LSH recall@10 regressed: $lsh < 0.9")

      val cells = Similarity.trainCells(corpus, 0L until 128L, iters = 3)
        .persist()
      val ivf = recallVs(
        truth, Similarity.annIvf(corpus, queries, K, cells, nprobe = 2))
      assert(ivf >= 0.99, s"IVF recall@10 regressed: $ivf < 0.99")

      // the knobs actually buy recall: one table / one probe must be
      // strictly worse-or-equal, and visibly so for the single table
      val lsh1 = recallVs(
        truth, Similarity.annLsh(corpus, queries, K, bands = 1, bits = 8))
      assert(lsh1 < lsh, s"more tables must not lose recall ($lsh1 vs $lsh)")
      truth.unpersist(); cells.unpersist()
    } finally { corpus.unpersist(); queries.unpersist(); () }
  }

  test("nearDupPairs finds a planted near-duplicate and no pair among " +
      "decorrelated vectors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (corpus0, _) =
      SyntheticVectors.corpusAndQueries(spark, 2000, 0, 64, 128, 7L)
    // plant vec 9000 = vec 0 with one dim nudged: cosine ~1, a true
    // near-dup; every other same-cluster pair sits near cos(spread
    // mixture) and random cross-cluster pairs far lower
    val v0 = corpus0.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val planted = Seq((9000L, v0.updated(0, v0.head + 0.01f)))
      .toDF("vec_id", "embedding")
    val corpus = corpus0.unionByName(planted)
    val pairs = Similarity.nearDupPairs(corpus, bands = 8, bits = 8,
      minSim = 0.98).select("va", "vb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 9000L)),
      "the planted near-dup must survive banding and verify")
    assert(pairs.forall { case (a, b) => a == 0L && b == 9000L },
      s"no other pair reaches 0.98 in this mixture, got: ${pairs.take(5)}")
  }

  test("nearDupPairs pair-recall floor >= 0.9 at 8 bands x 8 bits " +
      "minSim 0.9, with zero false pairs, and bands buy recall") {
    val (corpus0, _) =
      SyntheticVectors.corpusAndQueries(spark, 2000, 0, 64, 128, 42L)
    val corpus = corpus0.persist()
    try {
      val sims = pairSims(corpus).persist()
      val truth = sims.filter(org.apache.spark.sql.functions.col("sim") >= 0.9)
      val found8 = Similarity.nearDupPairs(corpus, bands = 8, bits = 8,
        minSim = 0.9)
      val (rec8, false8) = pairStats(truth, found8)
      info(f"pair recall at 8x8: $rec8%.3f")
      assert(rec8 >= 0.9, s"pair recall regressed: $rec8 < 0.9")
      // exactly ONE row per (va, vb): the terminal dropDuplicates keys
      // on the pair alone, so this holds by construction — keep the
      // assertion anyway as the contract's own statement, so a future
      // restructure (e.g. back to a full-row distinct) fails here
      // instead of silently emitting duplicate pair rows
      import org.apache.spark.sql.functions.{col, count, lit}
      val dupRows = found8.groupBy("va", "vb").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).count()
      assert(dupRows == 0L,
        s"nearDupPairs emitted $dupRows duplicated (va, vb) pairs — the " +
          "distinct no longer collapses cross-band candidates")
      assert(false8 == 0L,
        "the exact-cosine verify stage admits no false pairs")
      val (rec2, _) = pairStats(truth,
        Similarity.nearDupPairs(corpus, bands = 2, bits = 8, minSim = 0.9))
      assert(rec2 < rec8, s"more bands must buy recall ($rec2 vs $rec8)")
      sims.unpersist()
    } finally { corpus.unpersist(); () }
  }

  /** One pair query whose plan must verify inside its bucket join:
    * `bucketJoins` joins carry the verify (`isVerify`, matched
    * STRUCTURALLY — a comparison whose operand subtree computes the
    * exact score — not by a numeric substring: a bare "0.5" also
    * appears in unrelated literals, so a substring match could pass
    * with the verify pushed nowhere), and no aggregate runs below any
    * of them — or, with `scalarAggBelow`, only a grouping-less one.
    * `onlyJoin` additionally pins the bucket join as the plan's one
    * join.
    */
  private case class InlineCase(name: String, frame: () => DataFrame,
      isVerify: Expression => Boolean, bucketJoins: Int = 1,
      onlyJoin: Boolean = false, scalarAggBelow: Boolean = false)

  private def cosineVerify(e: Expression): Boolean = e match {
    case cmp: GreaterThanOrEqual =>
      cmp.exists { case _: DotProductD => true; case _ => false }
    case _ => false
  }

  private def minhashVerify(e: Expression): Boolean = e match {
    case cmp: GreaterThanOrEqual =>
      cmp.exists { case _: ZipWith => true; case _ => false }
    case _ => false
  }

  private def hammingVerify(e: Expression): Boolean = e match {
    case cmp: LessThanOrEqual =>
      cmp.exists { case _: BitwiseCount => true; case _ => false }
    case _ => false
  }

  private lazy val inlineCorpus: DataFrame =
    SyntheticVectors.corpusAndQueries(spark, 500, 0, 64, 8, 3L)._1

  private def contractQuery(name: String): () => DataFrame =
    () => SparkEntry.queries(name)(spark, sfDir)

  private val inlineCases = Seq(
    InlineCase("nearDupPairs", () => Similarity
        .nearDupPairs(inlineCorpus, bands = 4, bits = 6, minSim = 0.5),
      cosineVerify, onlyJoin = true),
    // the knob broadcasts add joins, but no other join compares dot
    // products; below the bucket join only the scalar (grouping-less)
    // knob-count aggregate may appear
    InlineCase("nearDupPairsScaled", () => Similarity
        .nearDupPairsScaled(inlineCorpus, 64, minSim = 0.5),
      cosineVerify, scalarAggBelow = true),
    InlineCase("sim_cos_pairs", contractQuery("sim_cos_pairs"), cosineVerify),
    InlineCase("dedup_minhash_pairs", contractQuery("dedup_minhash_pairs"),
      minhashVerify),
    InlineCase("dedup_simhash_pairs", contractQuery("dedup_simhash_pairs"),
      hammingVerify),
    InlineCase("dedup_chargram_pairs", contractQuery("dedup_chargram_pairs"),
      minhashVerify),
    // the corpus arm (two-sided) and the earlier-new-doc arm (self)
    InlineCase("dedupAgainstSigs (both arms)", contractQuery("dedup_incremental"),
      minhashVerify, bucketJoins = 2))

  inlineCases.foreach { c =>
    test(s"${c.name} verifies inside the bucket join") {
      // force the canonical shuffled self-join (a broadcast band side
      // would hide the shape this spec pins: at corpus scale both sides
      // shuffle, and the 80 GB sf10 spill this shape replaced came from
      // a candidate distinct BETWEEN the join and the verify)
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plan = c.frame().queryExecution.sparkPlan
        val joins = plan.collect { case j: BaseJoinExec => j }
        if (c.onlyJoin)
          assert(joins.size == 1, s"expected the one bucket self-join:\n$plan")
        // Catalyst keeps the verify IN the join condition, so every
        // candidate is verified inside the join operator and only
        // survivors ever leave it — a shuffle or spill of the candidate
        // set is structurally impossible in this plan
        val bucketJoins = joins.filter(_.condition.exists(_.exists(c.isVerify)))
        assert(bucketJoins.size == c.bucketJoins,
          s"exactly ${c.bucketJoins} join(s) must carry the inline verify — " +
            "a plan that verifies after an exchange re-materializes the " +
            s"candidate set (the sf10 80 GB spill shape):\n$plan")
        // the distinct runs on survivors only: nothing aggregates below
        // the join (the regression shape put distinct(va, vb) there) —
        // a GROUPED aggregate below the join is the candidate-distinct
        // regression shape that spilled 80 GB at sf10
        bucketJoins.foreach { j =>
          val below = j.collect {
            case a: BaseAggregateExec
                if !c.scalarAggBelow || a.groupingExpressions.nonEmpty => a
          }
          assert(below.isEmpty,
            s"no ${if (c.scalarAggBelow) "grouped " else ""}aggregate may " +
              s"run below the bucket join:\n$plan")
        }
      }
    }
  }

  test("scaledBits ladder: bits widen with log2(n) at exact integer " +
      "boundaries, clamped to [4, 16], and bands fill the dim budget") {
    import Similarity.{scaledBands, scaledBits}
    assert(scaledBits(1) == 4 && scaledBits(2048) == 4,
      "floor of the clamp up to occ * 2^4")
    assert(scaledBits(2049) == 5, "first count past occ * 2^4 widens to 5")
    assert(scaledBits(500) == 4 && scaledBits(2000) == 4,
      "driver fixture sizes derive 4 bits")
    assert(scaledBits(200000) == 11, "the 100x rehearsal corpus derives 11")
    assert(scaledBits(2000000) == 14, "a 2M-vector decade derives 14")
    assert(scaledBits(Long.MaxValue) == 16, "ceiling of the clamp")
    assert(scaledBands(64, 4) == 16 && scaledBands(64, 11) == 5 &&
      scaledBands(64, 14) == 4 && scaledBands(64, 16) == 4)
    // derived knobs always fit the dimension: bands * bits <= dim
    (4 to 16).foreach(b => assert(scaledBands(64, b) * b <= 64))
  }

  test("nearDupPairsScaled equals nearDupPairs at the knobs the Scala " +
      "mirror derives for this corpus size — the in-plan derivation and " +
      "the documented ladder can never drift") {
    import org.apache.spark.sql.functions.col
    val n = 5000 // ladder: 5000 <= 128 * 2^6 -> 6 bits, 10 bands
    val (corpus0, _) =
      SyntheticVectors.corpusAndQueries(spark, n, 0, 64, 128, 13L)
    val corpus = corpus0.persist()
    try {
      val bits = Similarity.scaledBits(n)
      val bands = Similarity.scaledBands(64, bits)
      assert(bits == 6 && bands == 10, s"ladder moved: $bands x $bits")
      val scaled = Similarity.nearDupPairsScaled(corpus, 64, 0.9)
      val fixed = Similarity.nearDupPairs(corpus, bands, bits, 0.9)
      assert(scaled.count() > 0, "mixture must contain near-dup pairs")
      assert(scaled.except(fixed).isEmpty && fixed.except(scaled).isEmpty,
        "derived-knob pairs must equal fixed-knob pairs at the same knobs")
      // and at a size one decade up the knobs genuinely CHANGE (the
      // scale-safety): fewer, wider bands on the same data would derive
      // had the corpus been 200k rows
      assert(Similarity.scaledBits(200000) > bits)
    } finally { corpus.unpersist(); () }
  }

  test("budget-point floors: planted near-identical dups are fully " +
      "recovered even at the widest band (4x16), and moderate-sim recall " +
      "orders by band width — the trade SCALE.md documents") {
    import org.apache.spark.sql.functions._
    val (corpus0, _) =
      SyntheticVectors.corpusAndQueries(spark, 2000, 0, 64, 128, 42L)
    // plant a one-dim-nudged copy of each of the first 100 vectors:
    // cosine ~0.9999, the exact/near-exact copy class a corpus dedup
    // must not miss at ANY derived operating point
    val nudged = corpus0.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, j) -> " +
          "IF(j = 0, CAST(x + 0.02 AS FLOAT), x))").as("embedding"))
    val planted = corpus0.unionByName(nudged).persist()
    try {
      val wide = Similarity.nearDupPairs(planted, bands = 4, bits = 16,
          minSim = 0.98)
        .filter(col("vb") >= 1000000L && col("va") === col("vb") - 1000000L)
        .count()
      assert(wide >= 95,
        s"planted-dup recall at the widest budget point regressed: $wide/100")
      // moderate-sim recall must still order by band width: the
      // narrow-bits point catches at least as many sim>=0.9 pairs
      val narrow9 = Similarity
        .nearDupPairs(corpus0, bands = 16, bits = 4, minSim = 0.9).count()
      val wide9 = Similarity
        .nearDupPairs(corpus0, bands = 4, bits = 16, minSim = 0.9).count()
      assert(narrow9 >= wide9,
        s"16x4 must not find fewer sim>=0.9 pairs than 4x16 ($narrow9 vs $wide9)")
    } finally { planted.unpersist(); () }
  }

  test("sim_neardup_param (caller-bound knobs) and sim_neardup_scaled " +
      "(in-plan derivation) agree row-for-row on the fixture corpus") {
    val param = SparkEntry.queries("sim_neardup_param")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scaled = SparkEntry.queries("sim_neardup_scaled")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(param.nonEmpty, "derived-knob pairs must exist at sf0.001")
    assert(param == scaled,
      s"the two binding modes diverged: only-in-param=" +
        s"${(param -- scaled).take(5)} only-in-scaled=${(scaled -- param).take(5)}")
  }

  test("LSH knob validation: bands*bits beyond the embedding dimension " +
      "raises a readable error naming the knobs, not a silent bucket collapse") {
    val (corpus, queries) =
      SyntheticVectors.corpusAndQueries(spark, 200, 5, 64, 8, 11L)
    // dim 64: 9 bands x 8 bits = 72 > 64 — band 8 would read off the end
    val e = intercept[Exception] {
      Similarity.annLsh(corpus, queries, K, bands = 9, bits = 8).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msgs.contains("annLsh") && msgs.contains("bands*bits = 72"),
      s"error must name the API and knobs, got: $msgs")
    val e2 = intercept[Exception] {
      Similarity.nearDupPairs(corpus, bands = 9, bits = 8, minSim = 0.9).count()
    }
    val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msgs2.contains("nearDupPairs"), s"got: $msgs2")
    // static knob misuse is refused before any job runs
    val e3 = intercept[IllegalArgumentException](
      Similarity.annLsh(corpus, queries, K, bands = 0, bits = 8))
    assert(e3.getMessage.contains("bands >= 1"))
  }

  test("nearDupPairsScaled: a dim beyond the embedding's raises naming the " +
      "API and the derived bands*bits") {
    val (corpus, _) =
      SyntheticVectors.corpusAndQueries(spark, 200, 1, 64, 8, 11L)
    // knobs derived for dim 128 read past the 64-dim rows
    val bits = Similarity.scaledBits(200)
    val need = Similarity.scaledBands(128, bits) * bits
    val e = intercept[Exception] {
      Similarity.nearDupPairsScaled(corpus, 128, minSim = 0.9).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msgs.contains("nearDupPairsScaled") &&
      msgs.contains(s"bands*bits = $need"), s"got: $msgs")
  }
}
