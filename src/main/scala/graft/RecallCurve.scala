package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, SyntheticVectors}

/** Recall@k measurement for the parameterized ANN API
  * ([[operators.Similarity.annLsh]] / [[operators.Similarity.annIvf]])
  * against the exact baseline ([[operators.Similarity.annBrute]]) on the
  * clustered synthetic corpus ([[operators.SyntheticVectors]]).
  *
  * The fixed sim_* fixtures prove EXACTNESS on planted copies; this
  * measures the statistical quantity a 100 TB ANN deployment actually
  * tunes — recall as a function of the two cost knobs (LSH tables,
  * IVF probes). Results are committed to SCALE.md; AnnRecallSpec pins
  * floors at the documented settings so a silent recall regression
  * fails the suite.
  *
  * Usage: runMain graft.RecallCurve [n] [nq]   (default 50000 100)
  * Prints one markdown table and one JSON line.
  */
object RecallCurve {

  private val DIM = 64
  private val CLUSTERS = 128
  private val SEED = 42L
  private val K = 10
  private val LSH_BITS = 8
  private val IVF_CELLS = 128
  private val IVF_ITERS = 3

  /** |approx ∩ truth| / |truth| over (qid, vec_id) pairs — overall
    * recall@k (truth has exactly k rows per query, so micro == macro
    * up to per-query candidate shortfalls, which count as misses).
    */
  def recallVs(truth: DataFrame, approx: DataFrame): Double = {
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
  def pairSims(corpus: DataFrame): DataFrame = {
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
  def pairStats(truth: DataFrame, found: DataFrame): (Double, Long) = {
    val t = truth.select("va", "vb")
    val f = found.select("va", "vb")
    val hit = f.join(t, Seq("va", "vb")).count()
    (hit.toDouble / math.max(t.count(), 1L), f.count() - hit)
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(50000)
    val nq = args.lift(1).map(_.toInt).getOrElse(100)
    Session.run(Session.cpus) { spark =>
      val (corpus0, queries0) =
        SyntheticVectors.corpusAndQueries(spark, n, nq, DIM, CLUSTERS, SEED)
      val corpus = corpus0.persist(); val queries = queries0.persist()

      val truth = Similarity.annBrute(corpus, queries, K).persist()
      truth.count()

      val lshRows = Seq(1, 2, 4, 8).map { bands =>
        val t0 = System.nanoTime()
        val r = recallVs(truth, Similarity.annLsh(corpus, queries, K, bands, LSH_BITS))
        (s"lsh bands=$bands bits=$LSH_BITS", r, (System.nanoTime() - t0) / 1e9)
      }

      val cells = Similarity.trainCells(
        corpus, (0L until IVF_CELLS.toLong), IVF_ITERS).persist()
      cells.count()
      val ivfRows = Seq(1, 2, 4, 8, 16).map { nprobe =>
        val t0 = System.nanoTime()
        val r = recallVs(truth, Similarity.annIvf(corpus, queries, K, cells, nprobe))
        (s"ivf nprobe=$nprobe/$IVF_CELLS", r, (System.nanoTime() - t0) / 1e9)
      }

      println(f"%n| setting | recall@$K | sec |%n|---|---|---|")
      (lshRows ++ ivfRows).foreach { case (s, r, sec) =>
        println(f"| $s | $r%.3f | $sec%.1f |")
      }
      val json = (lshRows ++ ivfRows)
        .map { case (s, r, _) => s""""$s":${f"$r%.4f"}""" }
        .mkString(",")
      println(s"""{"n":$n,"nq":$nq,"dim":$DIM,"clusters":$CLUSTERS,"k":$K,$json}""")

      // ---- nearDupPairs: pair-recall / false-pair curve ----------------
      // All-pairs truth is quadratic, so the pair curve runs on the first
      // PAIR_N vectors of the same mixture (~39 per cluster at 5000/128 —
      // plenty of true near-dup pairs). Grid: bands at the operating
      // point's bits, bits at the operating point's bands (dim 64 caps
      // bands*bits, so 8 bands sweeps bits 4/6/8), and minSim at the
      // operating point.
      val PAIR_N = 5000
      val pc = corpus.filter(col("vec_id") < PAIR_N).persist()
      val sims = pairSims(pc).persist()
      sims.count()
      // Grid: the legacy operating-point sweeps (bands at 8 bits, bits at
      // 8 bands, minSim around 0.9) PLUS the dim-64 BUDGET points — every
      // (floor(64/bits), bits) pair the scale-safe derivation can emit,
      // i.e. the knobs nearDupPairsScaled gates at growing corpus sizes
      // (16x4 at <=2k vectors ... 4x16 at >=4M). Without these rows the
      // derived operating point would be cost-priced but recall-blind.
      val budgetBits = Seq(4, 6, 10, 12, 16)
      val grid =
        Seq(1, 2, 4, 8).map(b => (b, 8, 0.9)) ++
          Seq(4, 6).map(w => (8, w, 0.9)) ++
          Seq(0.8, 0.95).map(m => (8, 8, m)) ++
          budgetBits.map(w => (operators.Similarity.scaledBands(DIM, w), w, 0.9))
      val pairRows = grid.map { case (bands, bits, minSim) =>
        val truth = sims.filter(col("sim") >= minSim)
        val t0 = System.nanoTime()
        val found = operators.Similarity.nearDupPairs(pc, bands, bits, minSim)
        val (rec, falsePairs) = pairStats(truth, found)
        (s"pairs bands=$bands bits=$bits minSim=$minSim", rec, falsePairs,
          (System.nanoTime() - t0) / 1e9)
      }
      println(f"%n| setting | pair recall | false pairs | sec |%n|---|---|---|---|")
      pairRows.foreach { case (s, r, fp, sec) =>
        println(f"| $s | $r%.3f | $fp | $sec%.1f |")
      }
      val pairJson = pairRows
        .map { case (s, r, fp, _) => s""""$s":{"recall":${f"$r%.4f"},"false":$fp}""" }
        .mkString(",")
      println(s"""{"pair_n":$PAIR_N,"dim":$DIM,"clusters":$CLUSTERS,$pairJson}""")

      // ---- planted near-duplicates: the regime dedup actually targets --
      // Moderate-sim (0.9) recall at wide bands is the honest LSH trade;
      // near-IDENTICAL pairs (training-corpus exact/near-exact copies,
      // sim >= 0.98) are what a dedup pass must not miss. Plant one
      // per-dim-nudged copy of each of the first PAIR_DUPS vectors
      // (deterministic nudge; sim ~0.999) and measure the fraction of
      // planted pairs each budget point recovers at minSim 0.98.
      val PAIR_DUPS = 250
      val nudged = pc.filter(col("vec_id") < PAIR_DUPS)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, j) -> " +
            "IF(j = 0, CAST(x + 0.02 AS FLOAT), x))").as("embedding"))
      val planted = pc.unionByName(nudged).persist()
      planted.count()
      val dupRows = budgetBits.map { w =>
        val bands = operators.Similarity.scaledBands(DIM, w)
        val t0 = System.nanoTime()
        val found = operators.Similarity
          .nearDupPairs(planted, bands, w, minSim = 0.98)
          .filter(col("vb") >= 1000000L && col("va") === col("vb") - 1000000L)
        val hits = found.count()
        (s"planted bands=$bands bits=$w minSim=0.98",
          hits.toDouble / PAIR_DUPS, (System.nanoTime() - t0) / 1e9)
      }
      println(f"%n| setting | planted-dup recall | sec |%n|---|---|---|")
      dupRows.foreach { case (s, r, sec) => println(f"| $s | $r%.3f | $sec%.1f |") }
      val dupJson = dupRows
        .map { case (s, r, _) => s""""$s":${f"$r%.4f"}""" }.mkString(",")
      planted.unpersist(); sims.unpersist(); pc.unpersist()
      s"""{"planted_dups":$PAIR_DUPS,"dim":$DIM,$dupJson}"""
    }
  }
}
