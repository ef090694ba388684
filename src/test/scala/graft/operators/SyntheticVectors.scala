package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic clustered-Gaussian vector fixtures for ANN recall
  * evaluation (AnnRecallSpec, PairScaleSpec; the same generator made
  * the SCALE.md §"ANN recall vs cost" tables).
  *
  * Shape matters for the measurement: on UNIFORM random vectors every
  * non-identical pair is near-orthogonal in high dimension, so "the 10
  * nearest neighbors" is noise and any recall number is meaningless.
  * Real embedding corpora are clustered; drawing each point as
  * `center[cluster] + N(0, spread²)` gives queries genuine near
  * neighbors (their cluster-mates) and gives IVF/LSH the structure the
  * pruning exploits — the standard evaluation setup (cf. the clustered
  * regimes in ANN-benchmarks).
  *
  * Generation is DRIVER-SIDE (sequential seeded java.util.Random, then
  * parallelize): this is a test fixture generator, not an operator — at
  * n·dim ≈ 3M floats it is a few tens of MB. It is deliberately NOT
  * expressed as a distributed plan so the values depend only on (n,
  * dim, clusters, seed, spread), never on partitioning.
  */
object SyntheticVectors {

  /** (corpus, queries): corpus has (vec_id: long, embedding:
    * array<float>) with ids 0..n-1; queries has (qid, qe) with nq
    * held-out points drawn from the same cluster mixture (ids 0..nq-1 —
    * a separate namespace, per the ANN API contract).
    */
  def corpusAndQueries(s: SparkSession, n: Int, nq: Int, dim: Int,
      clusters: Int, seed: Long, spread: Double = 0.35)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(clusters, dim)(rnd.nextGaussian())
    def point(): Array[Float] = {
      val c = centers(rnd.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + spread * rnd.nextGaussian()).toFloat)
    }
    val corpus = (0 until n).map(i => (i.toLong, point().toSeq))
    val queries = (0 until nq).map(i => (i.toLong, point().toSeq))
    (corpus.toDF("vec_id", "embedding"),
      queries.toDF("qid", "qe"))
  }
}
