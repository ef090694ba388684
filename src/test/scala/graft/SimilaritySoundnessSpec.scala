package graft

import org.apache.spark.sql.functions._

/** Planted-neighbor soundness of the ANN family, end to end through
  * the PRODUCTION queries on an engineered corpus: an exact copy of
  * query 0 (vec_id 400) must surface as its rank-1 neighbor at cosine
  * ~1 through every search path — brute force trivially, and through
  * the sign-LSH bucket, label-IVF probe, and k-means-IVF probe paths,
  * which all prune the corpus BEFORE scoring and would silently drop
  * the true neighbor if a bucket/cell boundary mis-sorted it. The
  * corpus is seeded (Random(7)) and the cluster noise keeps every
  * non-copy below cosine ~0.999, so rank 1 is unambiguous and every
  * assertion is deterministic.
  *
  * Corpus: 10 tight clusters around near-orthogonal Gaussian centers;
  * queries 0..7 ARE centers 0..7 (labels 0..7); 300 fillers (ids
  * 8..307, 30 per label, center + 0.05·noise) — covering the k-means
  * seed ids 100/200/300 with distinct vectors — plus the planted copy.
  */
class SimilaritySoundnessSpec extends SparkSpec {

  private val Dim = 64

  private lazy val corpusDir: String = {
    val rnd = new scala.util.Random(7)
    def gauss(scale: Double): Seq[Float] =
      Seq.fill(Dim)((rnd.nextGaussian() * scale).toFloat)
    val centers = (0 until 10).map(_ => gauss(1.0))
    val queries = (0 until 8).map(i => (i.toLong, i, centers(i)))
    val fillers = (8 until 308).map { id =>
      val label = (id - 8) / 30
      (id.toLong, label,
        centers(label).zip(gauss(0.05)).map { case (c, n) => c + n })
    }
    val copy = Seq((400L, 0, centers(0)))
    val dir = TestScratch.dir("graft_sim_sound_")
    import spark.implicits._
    (queries ++ fillers ++ copy).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label").cast("int").as("label"),
        col("embedding"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  private def rank1(q: String): (Long, Double) = {
    val rows = operators.Similarity.queries(q)(spark, corpusDir)
      .filter(col("qid") === 0 && col("rnk") === 1).collect()
    assert(rows.length == 1, s"$q: expected one rank-1 row for qid 0")
    (rows(0).getLong(2), rows(0).getDouble(3))
  }

  for (q <- Seq("sim_topk_brute", "sim_topk_lsh", "sim_topk_ivf",
      "sim_ivf_kmeans"))
    test(s"$q surfaces the planted exact copy as rank 1 at cosine ~1") {
      val (vid, sim) = rank1(q)
      assert(vid == 400L, s"$q rank-1 for qid 0 is $vid, not the copy")
      assert(sim >= 0.999998, s"$q similarity $sim is not ~1")
    }

  test("sim_cos_pairs reports the planted copy pair at cosine 1 " +
      "through the within-label sign banding") {
    val p = operators.Similarity.queries("sim_cos_pairs")(spark, corpusDir)
      .filter(col("va") === 0 && col("vb") === 400).collect()
    assert(p.length == 1, "the (0, 400) identical pair must be a candidate")
    assert(p(0).getDouble(3) >= 0.999998)
  }
}
