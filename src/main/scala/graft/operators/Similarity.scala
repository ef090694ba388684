package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.VectorColumns.{signBandCodes, vecDot, vecNorm}

/** Approximate-nearest-neighbor / similarity search over
  * `embeddings.embedding: array<float>`.
  *
  * Three operators:
  *  - brute-force cosine top-k (the correctness baseline): broadcast the
  *    small query set against the full corpus — at 100 TB the corpus side
  *    streams partition-parallel, queries ride the broadcast, and the
  *    top-k per query is a bounded window (TakeOrdered shape), so no
  *    global materialization;
  *  - sign-LSH bucketed top-k (the scale path): bucket = sign bits of the
  *    first 10 dims (a fixed random-hyperplane family; the axis-aligned
  *    choice keeps it DuckDB-checkable). Candidates only join within a
  *    bucket — the shuffle key is the 10-bit code, turning O(N·Q) into
  *    O(N·Q/2^10) comparisons, the standard LSH trade;
  *  - banded sign-LSH near-dup pairs: candidates = same label sharing at
  *    least one of PAIR_BANDS sign-bit band codes, with exact-cosine
  *    verify INLINE in the bucket join (survivors-only distinct after).
  *    Round 1 did all-pairs within a label block — O(n²) in the block
  *    and 38% of the whole bench; banding makes the shuffle key
  *    (label, band, code), dividing each block's pair count by 2^bits.
  *    That divides the quadratic's CONSTANT, not its exponent: bucket
  *    occupancy is ~n_label/2^PAIR_BITS, so at 1000× the vectors the
  *    band width must widen with log2(n) (PAIR_BITS is that knob; wider
  *    bands trade recall, recovered by more PAIR_BANDS) to hold
  *    per-bucket work flat. Recall is the standard LSH trade — and
  *    because the verify streams inside the join, an under-widened
  *    `bits` costs CPU (cores absorb it), never candidate shuffle/spill.
  *
  * All dot products use the codegen'd [[org.apache.spark.sql.graft.DotProductD]]
  * expression (strict left-to-right double accumulation — bit-identical
  * to DuckDB's `list_dot_product`); norms are computed once per row, not
  * once per pair. Scores are rounded to 6 dp before ranking/filtering so
  * ordering is identical in both engines.
  */
object Similarity extends QueryModule {

  import Tables._

  /** Distinguishes each call's codebook plan: without it the
    * CacheManager plan-matches call N's persist to call 1's cached
    * blocks ("already cached" WARN) and a bench retry sweep would
    * silently measure warm training instead of re-paying it.
    */
  private val trainRun = new java.util.concurrent.atomic.AtomicLong(0)

  private val TOPK = 5
  private val NQUERIES = 8 // query vectors: vec_id < 8
  private val LSHBITS = 10
  private val PAIR_BANDS = 8 // near-dup candidate bands ...
  private val PAIR_BITS = 6 // ... of this many sign bits each
  private val PAIR_MIN_SIM = 0.3
  private val EMB_DIM = 64 // driver fixture embedding dimension

  /** embeddings + precomputed L2 norm (one codegen'd pass per row). */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", vecNorm(col("embedding")))

  private val normCte =
    """e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
      |         list_transform(embedding, x -> x::DOUBLE))) AS nrm
      |  FROM embeddings)""".stripMargin

  private def simCol(a: String, b: String, na: String, nb: String): Column =
    round(vecDot(col(a), col(b)) / (col(na) * col(nb)), 6)

  private def simSql(a: String, b: String, na: String, nb: String): String =
    s"""round(list_dot_product(list_transform($a, x -> x::DOUBLE),
       |  list_transform($b, x -> x::DOUBLE)) / ($na * $nb), 6)""".stripMargin

  /** The fixed queries' query set (vec_id < NQUERIES) as (qid, qe, qn),
    * then `extra`.
    */
  private def queriesOf(emb: DataFrame, extra: Column*): DataFrame =
    emb.filter(col("vec_id") < NQUERIES)
      .select(Seq(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")) ++ extra: _*)

  /** The top-k core: the rank tail every fixed top-k query and the
    * parameterized ANN APIs share. Exact cosine per (query, candidate)
    * row, then the `k` best per query by (sim desc, vec_id) — a bounded
    * per-query window (TakeOrdered shape), no global materialization.
    * Reads qid, qe, qn, vec_id, embedding, nrm; returns (qid, rnk,
    * vec_id, sim).
    */
  private def topK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("sim", simCol("qe", "embedding", "qn", "nrm"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** IVF probe: score the (tiny, broadcast) codebook `cent` — cvec, cnrm
    * and the `cell` id column — against each query (qid, qe, qn) and
    * keep the `nprobe` best cells per query, ties to the lower cell.
    */
  private def probe(q: DataFrame, cent: DataFrame, cell: String,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("csim").desc, col(cell))
    q.crossJoin(broadcast(cent))
      .withColumn("csim",
        round(vecDot(col("qe"), col("cvec")) / (col("qn") * col("cnrm")), 6))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= nprobe)
  }

  // ---- brute-force cosine top-k --------------------------------------

  private def topkBrute(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
    topK(emb.crossJoin(broadcast(queriesOf(emb)))
      .filter(col("vec_id") =!= col("qid")), TOPK)
      .orderBy("qid", "rnk")
  }

  private def topkBruteOracle: String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e
       |  WHERE vec_id < $NQUERIES),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    ${simSql("q.qe", "e.embedding", "q.qn", "e.nrm")} AS sim
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT qid, rnk, vec_id, sim FROM ranked
       |WHERE rnk <= $TOPK ORDER BY qid, rnk""".stripMargin

  // ---- sign-LSH bucketed top-k ---------------------------------------

  /** DuckDB bucket: the sign bits of the first LSHBITS dims as a '0'/'1'
    * string. The Spark side keys on the same bits as a one-band
    * SignBandCodes array (never null, so no null filter is inferred on
    * it); equal codes are equal strings, so both engines form the same
    * buckets.
    */
  private def lshBucketSql(emb: String): String =
    (1 to LSHBITS)
      .map(i => s"CASE WHEN $emb[$i] >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")

  private def topkLsh(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
      .withColumn("bucket", signBandCodes(col("embedding"), lit(1),
        lit(LSHBITS), "sim_topk_lsh"))
    val q = queriesOf(emb, col("bucket").as("qbucket"))
    topK(emb.join(broadcast(q), col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("qid")), TOPK)
      .orderBy("qid", "rnk")
  }

  private def topkLshOracle: String =
    s"""WITH $normCte,
       |b AS (
       |  SELECT vec_id, embedding, nrm, ${lshBucketSql("embedding")} AS bucket
       |  FROM e),
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn,
       |  bucket AS qbucket FROM b WHERE vec_id < $NQUERIES),
       |scored AS (
       |  SELECT q.qid, b.vec_id,
       |    ${simSql("q.qe", "b.embedding", "q.qn", "b.nrm")} AS sim
       |  FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT qid, rnk, vec_id, sim FROM ranked
       |WHERE rnk <= $TOPK ORDER BY qid, rnk""".stripMargin

  // ---- banded-LSH cosine near-dup pairs ------------------------------

  /** DuckDB band code b: sign bits of dims [PAIR_BITS*b, PAIR_BITS*(b+1)). */
  private def bandCodeSql(b: Int): String =
    (0 until PAIR_BITS)
      .map(j => s"CASE WHEN embedding[${PAIR_BITS * b + j + 1}] >= 0 THEN ${1 << j} ELSE 0 END")
      .mkString(" + ")

  /** The fixed-knob instance: PAIR_BANDS bands of PAIR_BITS sign bits,
    * blocked within a label, verified at PAIR_MIN_SIM.
    */
  private def cosinePairs(s: SparkSession, d: String): DataFrame =
    cosinePairsOf(bandCodesCarrying(embeddings(s, d), "sim_cos_pairs",
        PAIR_BANDS, PAIR_BITS, "label"), Seq("label", "band", "code"),
        PAIR_MIN_SIM, col("a.label").as("label"))
      .orderBy("va", "vb")

  /** [[Blocking.pairs]] over embedding band codes: the exact cosine
    * verified inline at `minSim`; (va, vb, `extra`, sim) out.
    */
  private def cosinePairsOf(codes: DataFrame, keys: Seq[String],
      minSim: Double, extra: Column*): DataFrame = {
    val sim = simCol("a.embedding", "b.embedding", "a.nrm", "b.nrm")
    Blocking.pairs(codes, keys, "vec_id", ("va", "vb"), sim >= minSim,
      extra :+ sim.as("sim"))
  }

  private def cosinePairsOracle: String = {
    val bandSelects = (0 until PAIR_BANDS)
      .map(b => s"SELECT vec_id, label, embedding, nrm, $b AS band, " +
        s"${bandCodeSql(b)} AS code FROM e")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $normCte,
       |bands AS (
       |  $bandSelects)
       |SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
       |  ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
       |FROM bands a JOIN bands b
       |  ON a.label = b.label AND a.band = b.band AND a.code = b.code
       |  AND a.vec_id < b.vec_id
       |WHERE ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} >= $PAIR_MIN_SIM
       |ORDER BY va, vb""".stripMargin
  }

  // ---- IVF top-k (coarse quantizer → probe → exact re-rank) -----------

  private val NPROBE = 2

  /** Per-label centroids as the coarse quantizer (at production scale
    * the cells come from k-means; the label cells exercise the same
    * assign→probe→re-rank machinery deterministically). Components are
    * derived from EXACT long sums of floor(v·1e6) so Spark's and
    * DuckDB's float-summation order can't diverge (floor has no
    * rounding-tie, unlike round/cast).
    */
  private def centroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).as("q"))
      .groupBy("label", "pos")
      .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
      .withColumn("cv",
        col("sq").cast("double") / lit(1000000.0) / col("cnt").cast("double"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
        .as("cvec"))

  /** IVF search: score the (tiny, broadcast) centroid table per query,
    * probe the NPROBE best cells, exact-cosine re-rank only inside the
    * probed cells. The corpus-side join key is the cell id — at 100 TB
    * the scan prunes to probed cells and the query set rides a
    * broadcast, the standard IVF trade (recall vs cells touched).
    */
  private def topkIvf(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
    val cent = centroids(s, d).withColumn("cnrm", vecNorm(col("cvec")))
    val probes = probe(queriesOf(emb), cent, "label", NPROBE)
      .select("qid", "qe", "qn", "label")
    topK(emb.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("qid")), TOPK)
      .orderBy("qid", "rnk")
  }

  private def topkIvfOracle: String =
    s"""WITH $normCte,
       |zz AS (
       |  SELECT label, unnest(embedding) AS v,
       |    unnest(range(len(embedding))) AS pos
       |  FROM embeddings),
       |sums AS (
       |  SELECT label, pos, sum(CAST(floor(v::DOUBLE * 1000000.0) AS BIGINT)) AS sq,
       |    count(*) AS cnt
       |  FROM zz GROUP BY 1, 2),
       |cvs AS (
       |  SELECT label, pos, (sq::DOUBLE / 1000000.0) / cnt::DOUBLE AS cv
       |  FROM sums),
       |cent AS (
       |  SELECT label, list(cv ORDER BY pos) AS cvec FROM cvs GROUP BY label),
       |centn AS (
       |  SELECT label, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnrm
       |  FROM cent),
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e
       |  WHERE vec_id < $NQUERIES),
       |probes AS (
       |  SELECT qid, label FROM (
       |    SELECT q.qid, c.label,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        round(list_dot_product(list_transform(q.qe, x -> x::DOUBLE), c.cvec)
       |          / (q.qn * c.cnrm), 6) DESC, c.label) AS crnk
       |    FROM q, centn c)
       |  WHERE crnk <= $NPROBE),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    ${simSql("q.qe", "e.embedding", "q.qn", "e.nrm")} AS sim
       |  FROM e
       |  JOIN probes p ON e.label = p.label
       |  JOIN q ON q.qid = p.qid
       |  WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT qid, rnk, vec_id, sim FROM ranked
       |WHERE rnk <= $TOPK ORDER BY qid, rnk""".stripMargin

  // ---- IVF with a k-means-trained coarse quantizer --------------------

  private val KM_SEEDS = Seq(0, 100, 200, 300) // initial centroids (vec_ids)
  private val KM_ITERS = 2

  /** k-means (Lloyd) trained cells, fully deterministic across engines:
    *  - init: the seed vectors themselves (fixed vec_ids, cell id = seed);
    *  - assign: argmin of round(|x|² − 2x·c + |c|², 6), ties to the lower
    *    cell id — every term is a strict left-to-right dot product, so
    *    the doubles are bit-identical in Spark and DuckDB;
    *  - update: per-(cell, dim) means from EXACT long sums of
    *    floor(v·1e6) (the same recipe as the per-label centroids);
    *  - a FIXED iteration count (unrolled in the oracle as a CTE chain),
    *    so the whole training is one declarative plan — no driver loop,
    *    no actions.
    * At scale each iteration is one broadcast-join + two hash
    * aggregations over (cell, dim) — k·d cells of state, corpus read
    * once per iteration.
    */
  private def kmCentroids(emb: DataFrame,
      seeds: Seq[Long] = KM_SEEDS.map(_.toLong),
      iters: Int = KM_ITERS): DataFrame = {
    val init = emb.filter(col("vec_id").isin(seeds: _*))
      .select(col("vec_id").as("cell"),
        expr("transform(embedding, x -> cast(x AS double))").as("cvec"))
    (0 until iters).foldLeft(init) { (cent, _) =>
      val assign = assignCells(emb, cent)
      emb.join(assign, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cell"), col("pos"),
          floor(col("v").cast("double") * lit(1000000.0)).as("q"))
        .groupBy("cell", "pos")
        .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
        .withColumn("cv",
          col("sq").cast("double") / lit(1000000.0) / col("cnt").cast("double"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
          .as("cvec"))
    }
  }

  /** Nearest cell per vector under the given centroids (argmin rounded
    * squared L2, ties to the lower cell id).
    *
    * The argmin is an AGGREGATE — `min(struct(dist2, cell))` — not a
    * window: partial aggregation collapses the k candidate rows per
    * vector map-side, so the shuffle carries ONE row per vector, where
    * a `row_number` window would shuffle and then SORT all k rows per
    * vector. At 100 TB that is the difference between shuffling the
    * corpus and shuffling k× the corpus plus a per-group sort. Struct
    * ordering is lexicographic, so ties break to the lower cell id —
    * exactly the oracle's (dist2 ASC, cell ASC) row_number contract.
    */
  private def assignCells(emb: DataFrame, cent: DataFrame): DataFrame = {
    val c2 = cent.withColumn("c2", vecDot(col("cvec"), col("cvec")))
    emb.crossJoin(broadcast(c2))
      .withColumn("dist2", round(
        col("e2") - lit(2.0) * vecDot(col("embedding"), col("cvec")) + col("c2"), 6))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"))
  }

  private def topkIvfKmeans(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
      .withColumn("e2", vecDot(col("embedding"), col("embedding")))
    // Persist the trained codebook (|KM_SEEDS| rows): it is referenced
    // twice below (probe scoring + the final cell assignment), and
    // without the persist EACH reference re-executes the whole
    // KM_ITERS-deep Lloyd chain — doubling the training corpus passes
    // for a 4-row table. At 100 TB the analogous step trains on a
    // sample and materializes the codebook once; k·d doubles of state.
    val cent = kmCentroids(emb)
      .withColumn("cnrm", vecNorm(col("cvec")))
      .withColumn("train_run", lit(trainRun.incrementAndGet()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a per-CALL persist, never memoized across calls: a bench retry
    // sweep must re-pay training, not measure a warm cache
    graft.Materialize.track(cent)
    val assign = assignCells(emb, cent)
    val probes = probe(queriesOf(emb), cent, "cell", NPROBE)
      .select("qid", "qe", "qn", "cell")
    topK(emb.join(assign, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid")), TOPK)
      .orderBy("qid", "rnk")
  }

  private def topkIvfKmeansOracle: String = {
    val seeds = KM_SEEDS.mkString(", ")
    // one assignment CTE (against centroid CTE $c) and one update CTE pair
    def assignCte(name: String, c: String): String =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(e.e2 - 2 * list_dot_product(e.ed, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6) ASC, c.cell) AS arnk
         |    FROM ek e, $c c)
         |  WHERE arnk = 1)""".stripMargin
    def updateCte(sums: String, cent: String, assign: String): String =
      s"""$sums AS (
         |  SELECT a.cell, z.pos,
         |    sum(CAST(floor(z.v::DOUBLE * 1000000.0) AS BIGINT)) AS sq,
         |    count(*) AS cnt
         |  FROM (SELECT vec_id, unnest(embedding) AS v,
         |          unnest(range(len(embedding))) AS pos FROM embeddings) z
         |  JOIN $assign a ON z.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |$cent AS (
         |  SELECT cell, list((sq::DOUBLE / 1000000.0) / cnt::DOUBLE ORDER BY pos)
         |    AS cvec
         |  FROM $sums GROUP BY cell)""".stripMargin
    s"""WITH ek AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x -> x::DOUBLE) AS ed,
       |    list_dot_product(list_transform(embedding, x -> x::DOUBLE),
       |      list_transform(embedding, x -> x::DOUBLE)) AS e2,
       |    sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
       |      list_transform(embedding, x -> x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT vec_id AS cell, list_transform(embedding, x -> x::DOUBLE) AS cvec
       |  FROM embeddings WHERE vec_id IN ($seeds)),
       |${assignCte("a0", "cent0")},
       |${updateCte("s1", "cent1", "a0")},
       |${assignCte("a1", "cent1")},
       |${updateCte("s2", "cent2", "a1")},
       |centf AS (
       |  SELECT cell, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnrm
       |  FROM cent2),
       |${assignCte("af", "centf")},
       |q AS (SELECT vec_id AS qid, ed AS qe, nrm AS qn FROM ek
       |  WHERE vec_id < $NQUERIES),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        round(list_dot_product(q.qe, c.cvec) / (q.qn * c.cnrm), 6)
       |        DESC, c.cell) AS crnk
       |    FROM q, centf c)
       |  WHERE crnk <= $NPROBE),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    round(list_dot_product(q.qe, e.ed) / (q.qn * e.nrm), 6) AS sim
       |  FROM ek e
       |  JOIN af ON e.vec_id = af.vec_id
       |  JOIN probes p ON af.cell = p.cell
       |  JOIN q ON q.qid = p.qid
       |  WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT qid, rnk, vec_id, sim FROM ranked
       |WHERE rnk <= $TOPK ORDER BY qid, rnk""".stripMargin
  }

  // ---- parameterized ANN API (library surface) ------------------------
  //
  // The sim_* queries above are driver-gated fixed-parameter instances;
  // these are the forms a pipeline embeds, with the two scale knobs —
  // LSH tables (bands) and IVF probes — as arguments so recall/cost can
  // be tuned per deployment. SCALE.md §"ANN recall vs cost" records
  // recall@k of both against the brute baseline on a synthetic
  // clustered corpus; AnnRecallSpec pins floors at the documented
  // settings.
  //
  // Contract: `corpus` has (vec_id, embedding), `queries` (qid, qe).
  // Query ids and corpus ids are separate namespaces (no self-exclusion
  // is applied — hold queries out of the corpus). Output: (qid, rnk,
  // vec_id, sim), rnk 1..k per qid, sim rounded to 6 dp like the
  // fixed queries so cross-engine ordering stays deterministic.

  private def rerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val c = withNorm(corpus).select(col("vec_id"), col("embedding"), col("nrm"))
    val q = withNorm(queries.withColumnRenamed("qe", "embedding"))
      .select(col("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    topK(cand.join(c, "vec_id").join(q, "qid"), k)
  }

  /** Knob validation for the parameterized LSH APIs. The static part is
    * a driver-side require; the data-dependent part (bands·bits must fit
    * the embedding dimension) is enforced IN the plan by the
    * [[org.apache.spark.sql.graft.SignBandCodes]] kernel rather than a
    * first-row probe, so it holds on every row, costs no extra job, and
    * stays distributed.
    */
  private def requireKnobs(api: String, bands: Int, bits: Int): Unit = {
    require(bands >= 1 && bits >= 1 && bits <= 30,
      s"$api: need bands >= 1 and 1 <= bits <= 30 (band codes are Int " +
        s"bitmasks), got bands=$bands bits=$bits")
    ()
  }

  /** The (band, code) generator: one row per band, the codes from the
    * [[org.apache.spark.sql.graft.SignBandCodes]] kernel, which raises
    * naming `api` on an embedding shorter than bands·bits. `bands` and
    * `bits` are literal knobs or knob columns.
    */
  private def bandRows(emb: Column, bands: Column, bits: Column,
      api: String): Column =
    posexplode(signBandCodes(emb, bands, bits, api)).as(Seq("band", "code"))

  /** Exact cosine top-k: the recall baseline. Corpus side streams
    * partition-parallel, the query set rides a broadcast, per-query
    * top-k is a bounded window — no global materialization.
    */
  def annBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = corpus.select("vec_id")
      .crossJoin(broadcast(queries.select("qid")))
    rerank(cand, corpus, queries, k)
  }

  /** Multi-table sign-LSH top-k: `bands` hash tables, each keyed by the
    * sign bits of `bits` consecutive dimensions (band b reads dims
    * [b·bits, (b+1)·bits) — the axis-aligned hyperplane family of the
    * fixed queries). A corpus vector is a candidate iff it shares at
    * least one band code with the query; candidates then re-rank by
    * exact cosine. Recall grows with `bands` (more tables → more
    * collisions), cost with bands · occupancy ≈ bands · N/2^bits —
    * both knobs explicit, the standard LSH trade. Shuffle key is the
    * (band, code) digest, never an embedding; corpus and query codes
    * both come from the [[org.apache.spark.sql.graft.SignBandCodes]]
    * kernel.
    */
  def annLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      bands: Int, bits: Int): DataFrame = {
    requireKnobs("annLsh", bands, bits)
    def codes(df: DataFrame, idCol: String, emb: String): DataFrame =
      df.select(col(idCol), bandRows(col(emb), lit(bands), lit(bits), "annLsh"))
    val cand = codes(corpus, "vec_id", "embedding")
      .join(broadcast(codes(queries, "qid", "qe")), Seq("band", "code"))
      .select("qid", "vec_id").distinct()
    rerank(cand, corpus, queries, k)
  }

  /** k-means-trained IVF cells for [[annIvf]]: Lloyd iterations over the
    * corpus, initialized from the vectors with ids `seeds` (cell id =
    * seed id). Same declarative shape as the fixed sim_ivf_kmeans
    * training — per iteration one broadcast join + two hash aggs, no
    * driver loop — with seeds/iterations as the deployment knobs. At
    * production scale training runs on a sample; the returned codebook
    * is k·d doubles and should be persisted by the caller.
    */
  def trainCells(corpus: DataFrame, seeds: Seq[Long], iters: Int): DataFrame =
    kmCentroids(
      withNorm(corpus).withColumn("e2", vecDot(col("embedding"), col("embedding"))),
      seeds, iters)

  /** IVF top-k: assign the corpus to its nearest cell, score the (tiny,
    * broadcast) codebook per query, probe the `nprobe` best cells, and
    * exact-cosine re-rank only inside probed cells. Corpus-side work
    * scales with cells probed, not corpus size; recall grows with
    * `nprobe` — the standard IVF trade (SCALE.md §"ANN recall vs cost").
    */
  def annIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      cells: DataFrame, nprobe: Int): DataFrame = {
    val emb = withNorm(corpus)
      .withColumn("e2", vecDot(col("embedding"), col("embedding")))
    val cent = cells.withColumn("cnrm", vecNorm(col("cvec")))
    val assign = assignCells(emb, cent)
    val q = withNorm(queries.withColumnRenamed("qe", "embedding"))
      .select(col("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val probes = probe(q, cent, "cell", nprobe).select("qid", "cell")
    val cand = emb.select("vec_id").join(assign, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .select("qid", "vec_id")
    rerank(cand, corpus, queries, k)
  }

  /** (vec_id, band, code) rows of the parameterized sign-LSH band family,
    * coded by the [[org.apache.spark.sql.graft.SignBandCodes]] kernel
    * — the candidate-blocking projection shared by [[nearDupPairs]] and
    * PairScaleSpec's occupancy integral `candidateCount`, which sums
    * Σ C(bucket, 2) over these rows to PRICE a knob setting (the exact
    * pre-distinct candidate count) in O(N·bands) without materializing
    * a single candidate pair.
    */
  private[graft] def bandCodes(corpus: DataFrame, api: String, bands: Int,
      bits: Int): DataFrame =
    bandCodesCarrying(corpus, api, bands, bits)
      .select("vec_id", "band", "code")

  /** [[bandCodes]] plus the `carry` columns, the embedding and its norm
    * on every exploded row — the join input of the verify-inline pairs
    * shape. Catalyst prunes the carried columns out of the probe's
    * occupancy aggregate, so sharing one projection keeps the probe's
    * price and the operator's blocking keys from ever drifting. The
    * codes come from one call of the
    * [[org.apache.spark.sql.graft.SignBandCodes]] kernel per row, so
    * the projection's generated method stays small at any bands × bits.
    */
  private def bandCodesCarrying(corpus: DataFrame, api: String, bands: Int,
      bits: Int, carry: String*): DataFrame =
    withNorm(corpus).select((col("vec_id") +: carry.map(col)) ++ Seq(
      col("embedding"), col("nrm"),
      bandRows(col("embedding"), lit(bands), lit(bits), api)): _*)

  /** Embedding near-dup PAIRS — the parameterized form of the fixed
    * sim_cos_pairs query, for arbitrary corpora: banded sign-LSH
    * candidates (same dim-slice band family as [[annLsh]]) verified by
    * exact cosine at `minSim`. Returns (va, vb, sim) with va < vb.
    * Cost: per-band bucket occupancy is ~N/2^bits, so candidate pairs
    * scale with bands · N²/2^bits within a bucket — `bits` is the knob
    * that holds per-bucket work flat as N grows (widen with log2 N),
    * `bands` buys back the recall wider bands lose. The verify is
    * INLINE in the bucket join ([[Blocking]]): candidates are priced in
    * CPU, never shuffled — the only shuffle is the O(N·bands·dim) band
    * projection, and the distinct runs on verified survivors only.
    */
  def nearDupPairs(corpus: DataFrame, bands: Int, bits: Int,
      minSim: Double): DataFrame = {
    requireKnobs("nearDupPairs", bands, bits)
    cosinePairsOf(bandCodesCarrying(corpus, "nearDupPairs", bands, bits),
      Seq("band", "code"), minSim)
  }

  // ---- scale-safe derived-knob pairs ----------------------------------

  /** Knob-derivation constants for [[nearDupPairsScaled]]: target ~128
    * vectors per band bucket (the occupancy the pair-scale probe prices
    * as flat per-bucket work), band width clamped to [4, 16] bits so a
    * dim-64 embedding always affords >= 4 bands.
    */
  private[graft] val SCALED_OCC = 128
  private[graft] val SCALED_MIN_BITS = 4
  private[graft] val SCALED_MAX_BITS = 16

  /** The derived band width for a corpus of `n` vectors: the narrowest
    * width in [minBits, maxBits] whose expected bucket occupancy
    * n / 2^bits stays <= occ — i.e. bits grows with log2(n), the exact
    * knob motion that holds per-bucket candidate work flat as the corpus
    * scales (candidates/bucket ~ occ², buckets ~ n/occ, so total
    * candidates stay LINEAR in n instead of quadratic). Pure integer
    * comparisons so Spark, DuckDB, and this Scala mirror (used by specs)
    * can never disagree on a boundary.
    */
  private[graft] def scaledBits(n: Long, occ: Int = SCALED_OCC,
      minBits: Int = SCALED_MIN_BITS, maxBits: Int = SCALED_MAX_BITS): Int =
    (minBits until maxBits)
      .find(b => n <= occ.toLong * (1L << b))
      .getOrElse(maxBits)

  /** `bands` from the remaining dimension budget: every disjoint
    * `bits`-wide dim slice becomes a band, buying back the recall wider
    * buckets lose. floor(dim / bits) >= 1 for dim >= minBits.
    */
  private[graft] def scaledBands(dim: Int, bits: Int): Int =
    math.max(1, dim / bits)

  /** The [[scaledBits]] ladder as SQL over a column `n` — valid verbatim
    * in BOTH Spark and DuckDB (plain CASE over integer literals), so the
    * operator and its oracle derive knobs from the same text.
    */
  private[graft] def scaledBitsSql(nCol: String, occ: Int = SCALED_OCC,
      minBits: Int = SCALED_MIN_BITS, maxBits: Int = SCALED_MAX_BITS): String =
    (minBits until maxBits)
      .map(b => s"WHEN $nCol <= ${occ.toLong * (1L << b)} THEN $b")
      .mkString("CASE ", " ", s" ELSE $maxBits END")

  /** Embedding near-dup pairs at knobs DERIVED from the corpus size —
    * the production entry point for arbitrary-scale corpora, where the
    * fixed-knob [[nearDupPairs]] caller would have to re-tune `bits` by
    * hand every decade. The derivation runs IN the plan (a 1-row count
    * aggregate broadcast onto the band projection — no driver action, no
    * collect), so the same query text is scale-safe at any corpus size:
    * sf0.1's 2k vectors derive 16 bands x 4 bits, the 100x rehearsal's
    * 200k derive 5 x 11, a 2M-vector decade derives 4 x 14 — per-bucket
    * occupancy pinned near [[SCALED_OCC]] throughout, candidate volume
    * linear in n. Verify stays INLINE in the bucket join (same shape as
    * [[nearDupPairs]], pinned by AnnRecallSpec): candidates are priced
    * in CPU, never shuffled. Recall at the derived point is recorded in
    * SCALE.md's pair-recall tables and floored in AnnRecallSpec — wider
    * bands trade recall at moderate sims for scale-linearity; `dim` is
    * the caller's embedding dimension (knobs always satisfy
    * bands·bits <= dim, and a short row still fails loudly in-plan).
    * The broadcast knob columns feed the same
    * [[org.apache.spark.sql.graft.SignBandCodes]] kernel as the
    * fixed-knob forms, so both binding modes share one band coding.
    */
  def nearDupPairsScaled(corpus: DataFrame, dim: Int,
      minSim: Double): DataFrame = {
    require(dim >= SCALED_MIN_BITS,
      s"nearDupPairsScaled: dim $dim below the minimum band width " +
        s"$SCALED_MIN_BITS")
    val knobs = corpus.agg(count(lit(1)).as("n"))
      .select(expr(scaledBitsSql("n")).as("bits"))
      .select(col("bits"),
        greatest(lit(1), expr(s"CAST(floor($dim / bits) AS INT)")).as("bands"))
    val codes = withNorm(corpus).crossJoin(broadcast(knobs))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bandRows(col("embedding"), col("bands"), col("bits"),
          "nearDupPairsScaled"))
    cosinePairsOf(codes, Seq("band", "code"), minSim)
  }

  // ---- driver-gated instance of the parameterized pairs API ----------

  /** [[nearDupPairs]] — the explicit-knob LIBRARY API — driver-gated at
    * knobs the CALLER derives from the corpus size through the same
    * integer ladder the in-plan form uses ([[scaledBits]] /
    * [[scaledBands]]: ONE definition, shared with the specs and the
    * oracle), keeping the round-9 purpose of this entry ("the
    * parameterized API runs through the same DuckDB hash gate as the
    * fixed queries") without the scale-killer it used to carry: through
    * round 11 this instance pinned the sf0.1-era 8×6 knobs at EVERY
    * scale — measured at 230 s / 144× its sf0.1 wall at the sf10
    * rehearsal (candidates ~N²/2⁶ past ~10⁵ vectors, SCALE.md). The
    * fixed-knob form stays available to callers and is still exercised
    * at fixture scale (AnnRecallSpec's recall/false-pair curves,
    * PairScaleSpec's occupancy pricing); no CONTRACT query binds it
    * any more. The derivation here is one driver-side count — the
    * 1-row-aggregate touchpoint — and lands on the identical operating
    * point [[nearDupPairsScaled]] derives IN the plan, so the two
    * binding modes (caller-bound explicit knobs vs in-plan derivation)
    * must agree row-for-row at every scale; the shared derived-knob
    * oracle hash-gates both, and AnnRecallSpec asserts the cross-check.
    */
  private def nearDupParam(s: SparkSession, d: String): DataFrame = {
    val corpus = embeddings(s, d)
    val bits = scaledBits(corpus.count())
    nearDupPairs(corpus, scaledBands(EMB_DIM, bits), bits, PAIR_MIN_SIM)
      .orderBy("va", "vb")
  }

  /** Same derivation ladder, same knobs, same result set as
    * [[nearDupScaledOracle]] — the oracle text IS shared, so a drift
    * between the caller-bound and in-plan binding modes fails the gate.
    */
  private def nearDupParamOracle: String = nearDupScaledOracle

  /** [[nearDupPairsScaled]] on the fixture embeddings — the
    * contract-checked instance at the SCALE-SAFE operating point, i.e.
    * whatever knobs the corpus size derives (16x4 at driver scales,
    * 5x11 at the 100x rehearsal), unlike [[nearDupParam]] which pins
    * the sf0.1-era 8x6 knobs at every scale and goes superlinear past
    * ~10^5 vectors. Same minSim and output shape, so the two instances
    * differ ONLY in knob policy — this one is the documented production
    * entry point.
    */
  private def nearDupScaled(s: SparkSession, d: String): DataFrame =
    nearDupPairsScaled(embeddings(s, d), EMB_DIM, PAIR_MIN_SIM)
      .orderBy("va", "vb")

  /** Oracle for [[nearDupScaled]]: DuckDB derives bits/bands from the
    * same integer CASE ladder ([[scaledBitsSql]] — shared TEXT with the
    * Spark plan) over its own count(*), then builds the band codes with
    * a list lambda, so both engines derive and apply identical knobs at
    * any corpus size without the SQL being regenerated per scale.
    */
  private def nearDupScaledOracle: String =
    s"""WITH $normCte,
       |kn AS (SELECT count(*) AS n FROM embeddings),
       |kb AS (SELECT ${scaledBitsSql("n")} AS bits FROM kn),
       |kk AS (SELECT bits,
       |  GREATEST(1, CAST(floor($EMB_DIM / bits) AS INT)) AS bands FROM kb),
       |be AS (SELECT e.vec_id, e.embedding, e.nrm, kk.bits,
       |  unnest(range(kk.bands)) AS band FROM e, kk),
       |bands AS (
       |  SELECT vec_id, embedding, nrm, band,
       |    list_sum(list_transform(range(bits), j ->
       |      CASE WHEN embedding[band * bits + j + 1] >= 0
       |        THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS code
       |  FROM be)
       |SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
       |  ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
       |WHERE ${simSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} >= $PAIR_MIN_SIM
       |ORDER BY va, vb""".stripMargin

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_brute"     -> topkBrute _,
    "sim_topk_lsh"       -> topkLsh _,
    "sim_topk_ivf"       -> topkIvf _,
    "sim_ivf_kmeans"     -> topkIvfKmeans _,
    "sim_cos_pairs"      -> cosinePairs _,
    "sim_neardup_param"  -> nearDupParam _,
    "sim_neardup_scaled" -> nearDupScaled _,
  )

  val oracles: Map[String, String] = Map(
    "sim_topk_brute"     -> topkBruteOracle,
    "sim_topk_lsh"       -> topkLshOracle,
    "sim_topk_ivf"       -> topkIvfOracle,
    "sim_ivf_kmeans"     -> topkIvfKmeansOracle,
    "sim_cos_pairs"      -> cosinePairsOracle,
    "sim_neardup_param"  -> nearDupParamOracle,
    "sim_neardup_scaled" -> nearDupScaledOracle,
  )
}
