package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, SyntheticVectors}

/** The occupancy integral [[candidateCount]] prices a knob setting
  * WITHOUT materializing pairs — this spec proves the price is exact:
  * Σ C(bucket, 2) over band buckets must equal the count of
  * materialized same-(band, code) vec_id-ordered pairs, and the decade
  * tables in SCALE.md (§"Embedding-pair knob sweep", the
  * sf100 occupancy probe) are only as credible as that identity.
  * Also pins the directional claims the sf10 sweep rests on: widening
  * bits shrinks candidates; the verified pair set at a wider setting
  * stays a subset of the union of what verification admits (no false
  * pairs — verify is exact cosine at the same threshold).
  */
class PairScaleSpec extends SparkSpec {

  /** Exact pre-distinct candidate count for a knob setting, by
    * integrating band-bucket occupancies — never materializes a pair.
    */
  private def candidateCount(corpus: DataFrame, bands: Int, bits: Int): Long =
    Similarity.bandCodes(corpus, "candidateCount", bands, bits)
      .groupBy("band", "code").count()
      .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
      .head().getLong(0)

  test("candidateCount equals the materialized candidate-pair count, " +
      "and widening bits monotonically shrinks it") {
    val (corpus0, _) =
      SyntheticVectors.corpusAndQueries(spark, 2000, 1, 64, 32, 7L)
    val corpus = corpus0.persist()
    try {
      val settings = Seq((8, 4), (8, 6), (8, 8))
      val priced = settings.map { case (bands, bits) =>
        candidateCount(corpus, bands, bits)
      }
      settings.zip(priced).foreach { case ((bands, bits), price) =>
        val codes = Similarity.bandCodes(corpus, "spec", bands, bits)
        val materialized = codes.as("a").join(codes.as("b"),
            col("a.band") === col("b.band") &&
              col("a.code") === col("b.code") &&
              col("a.vec_id") < col("b.vec_id"))
          .count()
        assert(price == materialized,
          s"occupancy integral != materialized pairs at ${bands}x$bits: " +
            s"$price vs $materialized")
      }
      // 2^bits buckets per band: more buckets → strictly fewer same-bucket
      // pairs on any non-degenerate corpus (the knob the sweep turns)
      assert(priced(0) > priced(1) && priced(1) > priced(2),
        s"candidates must shrink as bits widen, got $priced")
    } finally { corpus.unpersist(); () }
  }
}
