package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Candidate-COST sweep for the parameterized embedding near-dup API
  * ([[operators.Similarity.nearDupPairs]]) at rehearsal scale — the
  * other half of the knob story whose RECALL half RecallCurve measures.
  *
  * The fixed contract instance (8 bands × 6-bit codes, the
  * sim_cos_pairs setting) prices candidate generation at
  * Σ_{band,bucket} C(occupancy, 2); with 2^6 = 64 buckets per band that
  * integral grows ~N²/2^bits — fine at the driver scales, but at the
  * second rehearsal decade (200k vectors) it crosses into the billions,
  * which is exactly the wall the API's `bits` knob exists to push back
  * (widen with log2 N; `bands` buys back the recall wider bands lose —
  * measured in SCALE.md's recall tables).
  *
  * For each knob setting this probe:
  *   - integrates the EXACT pre-distinct candidate count from band-bucket
  *     occupancies (groupBy (band, code) → Σ n·(n−1)/2): O(N·bands) work
  *     and a ~2^bits-row aggregate — pricing a setting without paying it;
  *   - when the priced count is under `fullCap` (default 10^8), runs the
  *     full nearDupPairs (inline exact-cosine verify on the streamed
  *     bucket matches at minSim 0.3, distinct on survivors) and reports
  *     wall seconds and verified-pair count.
  *
  * The point at the capped settings is the PRICE ITSELF — running 2.5G
  * candidates to report "it is slow" measures the sandbox, not the
  * operator; the integral is exact either way.
  *
  * Embedding-dimension note: the fixture's 64-dim vectors cap
  * bands·bits ≤ 64, so widening bits here must narrow bands (recall
  * trade measured in SCALE.md). Production text embeddings (768–4096
  * dims) have room to widen bits with log2 N while keeping 8+ bands —
  * the knob the doc recommends.
  *
  * Usage: runMain graft.PairScaleBench <sfDir> [fullCap]
  * Prints one markdown table and one JSON line.
  */
object PairScaleBench {

  private val MIN_SIM = 0.3 // the contract instance's verify threshold

  /** Exact pre-distinct candidate count for a knob setting, by
    * integrating band-bucket occupancies — never materializes a pair.
    */
  def candidateCount(corpus: DataFrame, bands: Int, bits: Int): Long =
    Similarity.bandCodes(corpus, "PairScaleBench", bands, bits)
      .groupBy("band", "code").count()
      .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
      .head().getLong(0)

  final case class Row(bands: Int, bits: Int, candidates: Long,
      priceSec: Double, fullSec: Double, pairs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error(
      "usage: PairScaleBench <sfDir> [fullCap]"))
    val fullCap = args.lift(1).map(_.toLong).getOrElse(100000000L)
    Session.run(Session.cpus) { spark =>
      val corpus = Tables.embeddings(spark, sfDir).persist()
      val n = corpus.count()
      // bands·bits ≤ dim=64 throughout: the fixed contract point, the
      // same-band-budget midpoints, the occupancy-priced extreme — and
      // whatever point the scaled derivation picks for THIS corpus size,
      // so every probed fixture prices its own sim_neardup_scaled knobs
      val derivedBits = Similarity.scaledBits(n)
      val derived = (Similarity.scaledBands(64, derivedBits), derivedBits)
      val knobs =
        (Seq((8, 6), (8, 8), (6, 10), (5, 12), (4, 16)) :+ derived).distinct
      val rows = knobs.map { case (bands, bits) =>
        val t0 = System.nanoTime()
        val cand = candidateCount(corpus, bands, bits)
        val priceSec = (System.nanoTime() - t0) / 1e9
        val (fullSec, pairs) =
          if (cand > fullCap) (Double.NaN, -1L)
          else {
            val t1 = System.nanoTime()
            val p = Similarity.nearDupPairs(corpus, bands, bits, MIN_SIM)
              .count()
            (((System.nanoTime() - t1) / 1e9), p)
          }
        val r = Row(bands, bits, cand, priceSec, fullSec, pairs)
        System.err.println(f"[pairscale] bands=$bands bits=$bits " +
          f"candidates=$cand%,d price=${priceSec}%.1fs full=${fullSec}%.1fs " +
          f"pairs=$pairs%,d")
        r
      }
      corpus.unpersist()

      println(s"\n| bands | bits | candidates (pre-distinct) | occupancy-price s | full-run s | verified pairs |")
      println("|---|---|---|---|---|---|")
      rows.foreach { r =>
        val full = if (r.fullSec.isNaN) "— (over cap)" else f"${r.fullSec}%.1f"
        val pairs = if (r.pairs < 0) "—" else f"${r.pairs}%,d"
        println(f"| ${r.bands} | ${r.bits} | ${r.candidates}%,d | ${r.priceSec}%.1f | $full | $pairs |")
      }
      val json = rows.map(r =>
        s"""{"bands":${r.bands},"bits":${r.bits},"candidates":${r.candidates},""" +
          s""""price_sec":${if (r.priceSec.isNaN) "null" else f"${r.priceSec}%.2f"},""" +
          s""""full_sec":${if (r.fullSec.isNaN) "null" else f"${r.fullSec}%.2f"},""" +
          s""""pairs":${r.pairs}}""").mkString("[", ",", "]")
      s"""{"bench":"pair_scale","sf_dir":"$sfDir","n":$n,"min_sim":$MIN_SIM,"rows":$json}"""
    }
  }
}
