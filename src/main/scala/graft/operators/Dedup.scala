package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Deduplication operators over `documents` — the LLM-pipeline north star.
  *
  * All hashing is md5-based so Spark and DuckDB compute identical values
  * (Spark's `hash()`/`xxhash64` have no DuckDB twin). Scale design:
  *  - exact dedup is one hash-partitioned aggregation on the content hash
  *    (no text comparison crosses the wire, only 32-byte digests);
  *  - MinHash signatures are computed per-row with higher-order array
  *    functions (no explode, no shuffle) — at 100 TB the signature table
  *    is ~100 bytes/doc regardless of document size — and MATERIALIZED
  *    ONCE (persisted): round 1 recomputed the K·shingles md5 pass three
  *    times per query, which dominated the bench;
  *  - LSH candidate pairs join on (band, band_hash), i.e. the shuffle key
  *    is a digest: only same-bucket docs are ever paired, which is the
  *    whole point of LSH at scale (no O(n²) comparison);
  *  - exact n-gram Jaccard runs as the VERIFY stage over those LSH
  *    candidates (round 1 used a shingle inverted-index self-join, which
  *    goes quadratic on high-frequency shingles — 30% of the bench). The
  *    intersection is a per-pair `array_intersect` on the already-distinct
  *    shingle arrays: linear in candidate count, never in block size².
  */
object Dedup extends QueryModule {

  import Tables._

  private val K = 16 // minhash functions
  private val BANDS = 4 // LSH bands of 4 rows each
  private val ROWS_PER_BAND = K / BANDS

  /** Distinct 3-word shingles, shared by minhash/jaccard (Spark side) —
    * the codegen'd [[org.apache.spark.sql.graft.WordNGrams]] single-pass
    * form of the declarative expression the oracle CTE below uses
    * (bit-exact twin incl. the short-doc whole-text fallback; the
    * distinct over the fallback's single element is a no-op, so
    * distinct-everywhere equals the original distinct-in-branch).
    *
    * The shingle base is NORMALIZED text — `lower(nfc(text))`, the
    * exact-dedup fold key ([[exactGroupsFoldOf]]) pushed down to the
    * near-dup front-end. Raw-text shingling silently destroyed recall
    * on real corpora: [[WordNGrams]] tokenized maximal `[a-z]` runs, so
    * an UPPERCASE letter was a DELIMITER — "The quick brown fox" and
    * "the quick brown fox" shared ZERO shingles, and NFC/NFD spellings
    * of the same word shingled differently. After the fold,
    * case/normalization variants of near-duplicate prose land in the
    * same LSH buckets (DedupSoundnessSpec plants exactly those
    * variants and pins both the old miss and the new catch). Cost at
    * 100 TB: ASCII rows pay one sign-bit scan for `nfc` (identity fast
    * path) plus the JVM lower — the same premium the fold-key exact
    * pair priced at ~0.6–0.9 s per 500k docs.
    *
    * Words are maximal `\p{L}` code-point runs ([[WordNGrams]] unicode
    * mode) — the fold's ASCII `[a-z]` scanner was the SAME recall bug
    * one script class wider: every Greek/Cyrillic/CJK document
    * tokenized to ZERO shingles (one degenerate '' fallback element),
    * so non-Latin near-dups were indistinguishable from any other
    * non-Latin doc (DedupSoundnessSpec plants the Greek pair and pins
    * both the old blindness and the new catch; text_letter_tokens
    * certifies the tokenizer itself cross-engine on planted
    * multilingual docs). ASCII rows classify without decoding, so the
    * dominant corpus case keeps the tight byte loop.
    */
  private def withShingles(df: DataFrame): DataFrame =
    df.withColumn("shingles",
      array_distinct(org.apache.spark.sql.graft.TextColumns
        .wordNGramsU(lower(org.apache.spark.sql.graft.TextColumns
          .nfc(col("text"))), 3)))

  /** DuckDB twin of [[withShingles]] as a CTE body (`lower ∘
    * nfc_normalize` is the proven oracle twin of Spark's
    * `lower ∘ nfc` — the dedup_exact_fold recipe; RE2's `\p{L}` in
    * string_split_regex matches Java's, proven by text_letter_tokens
    * on planted multilingual docs).
    */
  private val shinglesCte =
    """docs AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(nfc_normalize(text)), '[^\p{L}]+'), x -> x <> '') AS words
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang,
      |    list_distinct(CASE WHEN len(words) >= 3
      |      THEN list_transform(range(len(words)-2),
      |        i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])
      |      ELSE [array_to_string(words, ' ')] END) AS shingles
      |  FROM docs) """.stripMargin

  // ---- exact dedup ----------------------------------------------------

  private def exactGroups(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
      .orderBy("h")

  /** Keep-first dedup: the min-doc_id row per distinct content, carried
    * whole via min(struct) — doc_id leads the struct, so the lex-min IS
    * the keeper row. Partial-aggregatable where the equivalent window
    * (row_number over partitionBy(content)) is not: the window routes
    * every copy of a duplicated text to ONE task, and a boilerplate doc
    * duplicated 10^9 times — the exact input dedup exists for — becomes
    * a single-task sort straggler; min(struct) combines map-side, so the
    * hot key costs one partial per partition.
    */
  private def exactKeep(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_chars"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"),
        col("keep.n_chars").as("n_chars"))
      .orderBy("doc_id")

  // ---- exact dedup, multilingual normalized key ------------------------

  /** Exact dedup on the NORMALIZED multilingual key
    * `md5(lower(nfc(text)))` — the production form of what
    * `text_casefold_key` certifies as a key pipeline. Raw `md5(text)`
    * ([[exactGroups]]) is byte-identity: a corpus holding the NFC and
    * NFD spellings of the same title, or case variants of the same
    * boilerplate, keeps every variant. Normalize FIRST (Spark has no
    * built-in downstream NFC), fold second, hash third — so the shuffle
    * still carries 16-byte digests, never document bodies, exactly like
    * the raw-key path. At 100 TB the overwhelmingly-ASCII corpus pays
    * one byte scan per row for `nfc` (identity fast path) and the JVM
    * lower; only rows with a byte >= 0x80 pay Normalizer.
    *
    * The contract instance unions the planted
    * [[TextAnalysis.LATIN_FOLD_DOCS]] (NFC/NFD + case variants inside
    * the Latin class where the engines' case tables agree) so the green
    * oracle row certifies actual collisions, not just ASCII identity.
    * `lower()` is deliberately NOT full case folding: ß/STRASSE stay
    * distinct keys in BOTH engines (the agreement worth keeping on the
    * contract); the full-fold twin below is the spec-gated variant for
    * the scripts where `lower()` is the wrong fold.
    */
  private def exactGroupsFold(s: SparkSession, d: String): DataFrame =
    exactGroupsFoldOf(ScriptRouting.corpus(s, d, TextAnalysis.LATIN_FOLD_DOCS))

  /** The lower(nfc) grouping over an arbitrary (doc_id, text) frame —
    * shared by the contract query and the soundness spec's planted
    * corpus.
    */
  private[graft] def exactGroupsFoldOf(df: DataFrame): DataFrame =
    df.groupBy(md5(expr("lower(nfc(text))")).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
      .orderBy("h")

  /** Spec-side digest twin of [[exactGroupsFoldOf]] keyed
    * `md5(casefold(nfc(text)))` — ICU full case folding for the script
    * classes where `lower()` is the wrong fold (ß→ss, position-stable
    * sigma, dotted I). No DuckDB twin exists (its `lower()` is a simple
    * per-codepoint map and it ships no fold function), so this variant
    * is deliberately NOT on the contract: UnicodeFoldSpec /
    * DedupSoundnessSpec pin its collision sets on planted docs instead.
    */
  private[graft] def exactGroupsCasefoldOf(df: DataFrame): DataFrame =
    df.groupBy(md5(expr("casefold(nfc(text))")).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
      .orderBy("h")

  private def exactGroupsFoldOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(TextAnalysis.LATIN_FOLD_DOCS)}
       |SELECT md5(lower(nfc_normalize(text))) AS h, count(*) AS n_dups,
       |  min(doc_id) AS keeper
       |FROM corpus GROUP BY 1 ORDER BY h""".stripMargin

  /** Keep-first on the normalized key — the row-level operator a user
    * actually runs to dedup a multilingual corpus: one keeper row per
    * `md5(lower(nfc(text)))` group, min(struct) carried whole (the
    * same partial-aggregatable shape as [[exactKeep]] — no window, so
    * a boilerplate doc duplicated 10^9 times costs one partial per
    * partition, not a single-task sort straggler).
    */
  private def exactKeepFold(s: SparkSession, d: String): DataFrame =
    ScriptRouting.corpus(s, d, TextAnalysis.LATIN_FOLD_DOCS,
        "lang" -> lit("xx"), "n_chars" -> length(col("text")).cast("long"))
      .groupBy(md5(expr("lower(nfc(text))")).as("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_chars"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"),
        col("keep.n_chars").as("n_chars"))
      .orderBy("doc_id")

  private def exactKeepFoldOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(TextAnalysis.LATIN_FOLD_DOCS, extra = Seq(
         "lang" -> ((_: String) => "'xx'"),
         "n_chars" -> ((t: String) => s"CAST(length('$t') AS BIGINT)")))}
       |SELECT doc_id, lang, n_chars FROM (
       |  SELECT doc_id, lang, n_chars,
       |    row_number() OVER (PARTITION BY md5(lower(nfc_normalize(text)))
       |      ORDER BY doc_id) AS rn
       |  FROM corpus)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- MinHash signature table (shared, computed once) ----------------

  /** (doc_id, shingles, sig: array<string> of K minhashes), persisted —
    * computed once per (session, sfDir) even though two pair queries and
    * a self-join consume it. At cluster scale this is the canonical
    * "materialize the signature table" step (a ~100 B/doc dataset, fine
    * to cache or write out).
    *
    * The K md5s per shingle run in a codegen'd PROJECTION over exploded
    * shingles, then collapse through a partial-aggregated min per doc.
    * The per-row alternative — `array_min(transform(shingles, s ->
    * md5(...)))` — evaluates the lambda bodies interpreted (higher-order
    * functions don't codegen), which measured ~100× slower; the explode
    * adds a shuffle but it's the partial-min of 8-char strings, i.e.
    * K·8 bytes per doc per partition.
    */
  private def sigTable(s: SparkSession, d: String): DataFrame =
    graft.Materialize.memo(s, d, "dedup.sig_table") {
      // persist the shingle arrays FIRST: both the md5 explode pipeline
      // and the final join consume them, and without the cache the
      // interpreted shingle-building pass runs once per consumer
      val base = tracked(withShingles(documents(s, d)).select("doc_id", "shingles")
        .persist(StorageLevel.MEMORY_AND_DISK))
      sigOf(base).persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** A persist the store keeps until release: the inner persists of a
    * memoized table (the shingle base above), which its value does not
    * reach, and the per-call persists below.
    */
  private def tracked(df: DataFrame): DataFrame = graft.Materialize.track(df)

  /** The explode → codegen md5 projection → partial-min pipeline over a
    * prepared (doc_id, shingles) frame; shared by the memoized corpus
    * table and the incremental [[signatures]] entry point.
    */
  private def sigOf(base: DataFrame): DataFrame = {
    val ex = base.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val mins = ex
      .select(col("doc_id") +: (0 until K).map(k =>
        substring(md5(concat(lit(s"$k|"), col("sh"))), 1, 8).as(s"h$k")): _*)
      .groupBy("doc_id")
      .agg(min(s"h0").as("m0"), (1 until K).map(k => min(s"h$k").as(s"m$k")): _*)
    base.join(mins, "doc_id")
      .select(col("doc_id"), col("shingles"),
        array((0 until K).map(k => col(s"m$k")): _*).as("sig"))
  }

  /** Full-fold twin of the signature front-end, keyed
    * `casefold(nfc(text))` — ICU full case folding for the script
    * classes where `lower()` is the wrong fold (ß→ss, position-stable
    * sigma, dotted I), mirroring the exact-dedup pair
    * [[exactGroupsFoldOf]]/[[exactGroupsCasefoldOf]] one layer down.
    * Deliberately NOT on the contract (DuckDB ships no fold function,
    * so no oracle twin exists); UnicodeFoldSpec pins its planted
    * collision behavior — sharp-s near-dups shingle together here and
    * provably NOT under the lower fold.
    */
  private[graft] def signaturesCasefold(docs: DataFrame): DataFrame =
    sigOf(docs.withColumn("shingles",
      array_distinct(org.apache.spark.sql.graft.TextColumns
        .wordNGramsU(org.apache.spark.sql.graft.TextColumns
          .casefold(org.apache.spark.sql.graft.TextColumns
            .nfc(col("text"))), 3)))
      .select("doc_id", "shingles"))

  /** MinHash signatures for an arbitrary `(doc_id, text, ...)` frame —
    * the corpus-agnostic core of the memoized signature table, and what
    * an incremental pipeline runs over each NEW batch before
    * [[dedupAgainst]]. Same hash family and shape as the corpus table:
    * `(doc_id, shingles, sig)` with `sig` an array of K 8-hex-char
    * minhashes, so a signature table written out by one run is joinable
    * against signatures computed by any later run. Not persisted —
    * callers with multiple consumers persist (dedupAgainst does).
    */
  def signatures(docs: DataFrame): DataFrame =
    sigOf(withShingles(docs).select("doc_id", "shingles"))

  private val minhashSigSqlCols: String =
    (0 until K).map { k =>
      s"substr(list_min(list_transform(shingles, s -> md5('$k|' || s))), 1, 8) AS m$k"
    }.mkString(",\n    ")

  /** The oracles' minhash agreement between signature rows `sa` and
    * `sb` — K × their estimated Jaccard.
    */
  private val matchSum: String = (0 until K)
    .map(k => s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END")
    .mkString(" + ")

  private def minhashSig(s: SparkSession, d: String): DataFrame =
    sigTable(s, d)
      .select(col("doc_id") +:
        (0 until K).map(k => element_at(col("sig"), k + 1).as(s"m$k")): _*)
      .orderBy("doc_id")

  private def minhashSigOracle: String =
    s"""WITH $shinglesCte
       |SELECT doc_id,
       |    $minhashSigSqlCols
       |FROM sh ORDER BY doc_id""".stripMargin

  /** (doc_id, sig, band, h) — the banded-LSH bucket keys of a signature
    * frame (band hash = md5 of ROWS_PER_BAND consecutive minhashes; the
    * shuffle key is a digest, never a content block), carrying the
    * signature the inline verify reads ([[Blocking]]).
    */
  private def bandsOf(sigs: DataFrame): DataFrame = {
    val bandHashes = (0 until BANDS).map { b =>
      md5(concat((0 until ROWS_PER_BAND)
        .map(r => element_at(col("sig"), ROWS_PER_BAND * b + r + 1)): _*))
    }
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array(bandHashes: _*)).as(Seq("band", "h")))
  }

  /** DuckDB twin of the band+candidate pipeline over a shingle CTE
    * `$sh(doc_id, shingles)`, CTE names suffixed with `$sfx` so two
    * tokenization bases can coexist in one WITH (the routed-union CC
    * oracle needs the word chain and the char chain side by side).
    */
  private def candidatePairsCteFor(sh: String, sfx: String): String = {
    val bandSelects = (0 until BANDS).map { b =>
      val cat = (0 until ROWS_PER_BAND).map(r => s"m${ROWS_PER_BAND * b + r}").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sig$sfx"
    }.mkString("\n  UNION ALL\n  ")
    s"""sig$sfx AS (
       |  SELECT doc_id,
       |    $minhashSigSqlCols
       |  FROM $sh),
       |bands$sfx AS (
       |  $bandSelects),
       |pairs$sfx AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands$sfx a JOIN bands$sfx b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB twin of the band pipeline: CTEs sig, bands, pairs (assumes
    * the shingles CTE is already in scope).
    */
  private val candidatePairsCte: String = candidatePairsCteFor("sh", "")

  /** Banded-LSH candidates of a signature frame whose estimated
    * Jaccard (fraction of equal minhashes) clears `threshold` — the
    * band join and agreement verify shared VERBATIM by both tokenization
    * bases (word shingles and char grams) and every consumer of their
    * edges (pair listings, PageRank, the CC cluster path): one pipeline,
    * N signature front-ends.
    *
    * The filter runs on the UNROUNDED ratio — exactly the oracle's
    * WHERE clause — and the rounding exists only on the output column
    * (round-16 advice: filtering the rounded value was safe at K=16,
    * where m/K is exact at 4 decimals, but a future K that is not a
    * power of two could round a value across the 0.5 cut and diverge
    * between engines).
    */
  private def verifiedPairsOfSigs(sig: DataFrame,
      threshold: Double): DataFrame = {
    val est = minhashAgreement("a.sig", "b.sig").cast("double") / K
    Blocking.pairs(bandsOf(sig), Seq("band", "h"), "doc_id", ("doc_a", "doc_b"),
      verify = est >= threshold, out = Seq(round(est, 6).as("est_jaccard")))
  }

  /** The word base's verified near-dup edge set over the memoized
    * corpus signature table — shared by the pair listing and the
    * PageRank graph below.
    */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairsOfSigs(sigTable(s, d), 0.5)

  /** Estimated Jaccard = fraction of equal minhashes, over LSH candidates. */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d).orderBy("doc_a", "doc_b")

  /** DuckDB twin of [[verifiedPairsOfSigs]] at 0.5 over a shingle chain
    * ending in `sh(doc_id, shingles)` — shared by both bases' pair rows.
    */
  private def pairsOracle(shingles: String): String =
    s"""WITH $shingles,
       |$candidatePairsCte
       |SELECT doc_a, doc_b, round(($matchSum)::DOUBLE / $K, 6) AS est_jaccard
       |FROM pairs
       |JOIN sig sa ON doc_a = sa.doc_id
       |JOIN sig sb ON doc_b = sb.doc_id
       |WHERE ($matchSum)::DOUBLE / $K >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  private def minhashPairsOracle: String = pairsOracle(shinglesCte)

  // ---- PageRank over the near-dup graph -------------------------------

  private val PR_ITERS = 8
  private val PR_UNIT = 1000000L // fixed-point micros per node

  /** PageRank centrality over the verified near-dup graph — the
    * canonical-representative signal a production dedup pipeline uses to
    * pick WHICH copy of a near-dup cluster to keep (the best-connected
    * one), and the crawl-frontier prioritization primitive (OPIC-style)
    * over any link graph this engine ingests.
    *
    * Arithmetic is fixed-point integer micros END TO END — never
    * floats — so the result is exact, order-independent under any
    * partitioning, and bit-reproducible in DuckDB: rank starts at
    * [[PR_UNIT]] per node and each of the [[PR_ITERS]] rounds computes
    * `150000 + (85 * Σ_in (rank div deg)) div 100` (damping 0.85 with
    * truncating integer division; all operands positive, so Spark's
    * `div` and DuckDB's `//` agree). Overflow headroom: total mass is
    * bounded by N·10^6, so a long holds the sum past 10^12 docs.
    *
    * Scale shape: the edge+degree table is built once and persisted
    * (at cluster scale: written out, partitioned by src); each
    * iteration shuffles only (node, long) pairs — one groupBy(dst) per
    * round, same wire footprint as the pointer-jumping CC rounds, and
    * each round is checkpointed in a session-store round scope
    * ([[graft.Materialize.rounds]]), as CC's are: without lineage
    * truncation the per-round plan nests the full prior plan and
    * Catalyst analysis goes superlinear long before data does
    * (measured 37.9 s → ~2 s at sf0.01 from the cut alone). The
    * iteration count is FIXED (no driver convergence probe), matching
    * the k-means IVF training discipline.
    */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    // vp feeds the symmetrizing union twice and the degree count twice
    // more through it — persist once or the LSH self-join runs 4×
    val vp = tracked(verifiedPairs(s, d).select("doc_a", "doc_b")
      .persist(StorageLevel.MEMORY_AND_DISK))
    val edges = vp.union(vp.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // a failed round (cancelled job group, lost executor) leaves through
    // the scope, which frees ewd and the rounds it holds; at exit it frees
    // ewd and hands the final round, which the result reads, to the store
    graft.Materialize.rounds { rounds =>
      // ewd is read by all eight rounds: materialize it through the SAME
      // round-checkpoint discipline as the loop instead of a CacheManager
      // persist — each round re-planning an InMemoryRelation (cache
      // lookup + columnar decode per iteration) measured 0.27 s/round at
      // sf0.1 vs 0.08 s/round over the checkpointed LogicalRDD (probe,
      // OPTIMIZATION_r18.md §pagerank: loop8 2.70 -> 1.17 s min, same
      // rows). hold honors the reliable-checkpoint config key for
      // cluster deployments (Round6Spec runs this query under it).
      val ewd = rounds.hold(edges.join(deg, "src"))
      // Per round: ONE equi-join (rank mass onto edges) and ONE hash
      // aggregation. Nodes with no inflow are reinstated by unioning a
      // zero-contribution row per node DERIVED FROM THE PRIOR RANKS FRAME
      // (which holds exactly one row per node) — not a second join, and
      // not a re-scan of the corpus. Every round is checkpointed, the CC
      // discipline: profiling the sparser alternatives showed the driver
      // stalling seconds BETWEEN jobs on AQE re-optimization of the
      // deepening plan (gaps growing 3→11 s by round 8 at sf0.01), while
      // the cut keeps each round's optimizer unit a constant three
      // operators over a LogicalRDD.
      var ranks = rounds.hold(
        documents(s, d).select(col("doc_id"), lit(PR_UNIT).as("rank")))
      for (_ <- 1 to PR_ITERS) {
        val contrib = ewd.join(ranks, col("src") === col("doc_id"))
          .select(col("dst"), expr("rank div deg").as("c"))
          .union(ranks.select(col("doc_id").as("dst"), lit(0L).as("c")))
        val next = rounds.hold(
          contrib.groupBy("dst").agg(sum(col("c")).as("inflow"))
            .select(col("dst").as("doc_id"),
              (lit(150000L) + expr("(inflow * 85) div 100")).as("rank")))
        // next is materialized eagerly, so the prior round's blocks are
        // unreachable — release them before they pile up across rounds
        rounds.release(ranks)
        ranks = next
      }
      ranks.orderBy("doc_id")
    }
  }

  /** DuckDB twin: identical fixed-point recurrence, iterations unrolled
    * as r1..r8 CTEs (aggregation inside a recursive CTE term is not
    * portable SQL; a fixed unroll is). `//` floor division equals
    * Spark's truncating `div` because every operand is non-negative.
    * `vp`/`ewd` and every rank round are MATERIALIZED: `ewd` is read by
    * all eight rounds, and DuckDB's default inlining re-expands the
    * whole LSH self-join under each of them — at the 100× decade that
    * re-expansion OOMs a 128 GiB host before round 3.
    */
  private def pagerankOracle: String = {
    val iters = (1 to PR_ITERS).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.doc_id,
         |    150000 + (COALESCE(SUM(r.rank // w.deg), 0) * 85) // 100 AS rank
         |  FROM nodes n
         |  LEFT JOIN ewd w ON w.dst = n.doc_id
         |  LEFT JOIN r${k - 1} r ON r.doc_id = w.src
         |  GROUP BY n.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $shinglesCte,
       |$candidatePairsCte,
       |vp AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sig sa ON doc_a = sa.doc_id
       |  JOIN sig sb ON doc_b = sb.doc_id
       |  WHERE ($matchSum)::DOUBLE / $K >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vp
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM vp),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ewd AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       |nodes AS MATERIALIZED (SELECT doc_id FROM documents),
       |r0 AS (SELECT doc_id, CAST($PR_UNIT AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank
       |FROM r$PR_ITERS ORDER BY doc_id""".stripMargin
  }

  // ---- SimHash --------------------------------------------------------

  /** 64-bit SimHash from word md5s. Bit i (from hex char i/4, bit i%4) is
    * set when more words have that md5 bit = 1 than = 0. The per-char
    * bit test is a hex-char set membership, identical in both engines —
    * no hex→int conversion needed.
    */
  private val hexSets: Array[Seq[String]] = Array(
    Seq("1", "3", "5", "7", "9", "b", "d", "f"), // bit 0 of the nibble
    Seq("2", "3", "6", "7", "a", "b", "e", "f"), // bit 1
    Seq("4", "5", "6", "7", "c", "d", "e", "f"), // bit 2
    Seq("8", "9", "a", "b", "c", "d", "e", "f")) // bit 3

  private def simhashBitExprs(engine: String): Seq[String] =
    (0 until 64).map { i =>
      val c = i / 4 + 1
      val set = hexSets(i % 4).map(x => s"'$x'").mkString(", ")
      val cnt = engine match {
        case "spark" => s"size(filter(words, w -> substr(md5(w), $c, 1) IN ($set)))"
        case _       => s"len(list_filter(words, w -> substr(md5(w), $c, 1) IN ($set)))"
      }
      // majority vote: bit = 1 when #ones >= #zeros (ties -> 1, both engines)
      s"CASE WHEN 2 * $cnt >= size0 THEN '1' ELSE '0' END"
    }

  /** Spark side runs explode → codegen'd md5 projection → 64 count-if
    * partial aggregations (one shuffle of 64 small longs per doc) —
    * the interpreted per-row HOF form (64 lambda passes re-hashing every
    * word) measured ~100× slower. Docs with zero words re-enter via a
    * left join with zero counts, matching the oracle's vacuous-majority
    * bits (all '1').
    */
  /** (doc_id, simhash64) — computed once per (session, sfDir); both the
    * signature query and the pair verify consume it.
    */
  private def simhashTable(s: SparkSession, d: String): DataFrame =
    graft.Materialize.memo(s, d, "dedup.simhash_table") {
      // token base is the normalized fold — lower(nfc) over \p{L} runs
      // (the codegen'd LetterRunTokens scanner) — matching the shingle
      // front-end: raw-text splitting made uppercase letters DELIMITERS
      // and the ASCII class made every non-Latin doc tokenless, so case
      // variants and non-Latin near-dups fingerprinted apart (see
      // withShingles)
      val ex = documents(s, d)
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.TextColumns.letterTokens(
            lower(org.apache.spark.sql.graft.TextColumns.nfc(col("text")))))
            .as("w"))
        .select(col("doc_id"), md5(col("w")).as("h"))
        // the first 16 hex chars as two 32-bit chunks: one conv per
        // chunk, then each of the 64 bit counts is a shift+mask, not a
        // string test (bit i reads hex char i/4, so only chars 1..16 —
        // chunks 0 and 1 — are ever consumed)
        .select(col("doc_id") +: (0 until 2).map(j =>
          expr(s"CAST(conv(substr(h, ${8 * j + 1}, 8), 16, 10) AS BIGINT)").as(s"v$j")): _*)
      val cnts = ex.groupBy("doc_id").agg(
        count(lit(1)).as("size0"),
        (0 until 64).map { i =>
          val c = i / 4 // hex char index, 0-based
          val (chunk, pos) = (c / 8, c % 8)
          val shift = 4 * (7 - pos) + (i % 4)
          sum(shiftright(col(s"v$chunk"), shift).bitwiseAND(lit(1L))).as(s"c$i")
        }: _*)
      val bits = (0 until 64)
        .map(i => when(lit(2) * coalesce(col(s"c$i"), lit(0L)) >=
          coalesce(col("size0"), lit(0L)), "1").otherwise("0"))
      documents(s, d).select("doc_id")
        .join(cnts, Seq("doc_id"), "left")
        .withColumn("simhash64", concat(bits: _*))
        .select("doc_id", "simhash64")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  private def simhash(s: SparkSession, d: String): DataFrame =
    simhashTable(s, d)
      .select(col("doc_id"), col("simhash64"),
        expr("substr(simhash64, 1, 16)").as("bucket16"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs: 4 bands of 16 bits block the candidates
    * (same shape as the MinHash LSH join — the shuffle key is a band
    * code, never a content block), then the exact 64-bit hamming
    * distance verifies each candidate; keep pairs within 8 bits.
    * The verify is pure codegen'd integer work: each side's bit string
    * converts ONCE per doc to four 16-bit ints, and per pair hamming =
    * Σ bit_count(xor) — the interpreted per-character lambda it
    * replaces was ~10s at sf0.1 (correlated simhash bits make band
    * blocks big, so the per-pair cost is the whole game).
    *
    * Scale law: a 16-bit band has only 65,536 codes, so bucket occupancy
    * — and with it the quadratic within-bucket join — grows linearly in
    * corpus size (worse under correlated natural-language bits). The
    * band width is the knob and must widen with log2(N) at larger
    * corpora (e.g. 2×32-bit bands at billions of docs, trading recall
    * for blowup); identical/empty docs share all bands and want an
    * exact-dedup pre-collapse ([[exactGroups]] keeps one representative
    * per md5(text)).
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // each fingerprint converts to its four chunks once per doc, below
    // the band explode
    val codes = simhashTable(s, d).select(col("doc_id") +: col("simhash64") +:
        (0 until 4).map(b =>
          expr(s"CAST(conv(substr(simhash64, ${16 * b + 1}, 16), 2, 10) AS BIGINT)")
            .as(s"ch$b")): _*)
      .select(col("*"), posexplode(array((0 until 4).map(b =>
        expr(s"substr(simhash64, ${16 * b + 1}, 16)")): _*)).as(Seq("band", "code")))
    val hamming = expr((0 until 4).map(b => s"bit_count(a.ch$b ^ b.ch$b)")
      .mkString("CAST(", " + ", " AS BIGINT)"))
    Blocking.pairs(codes, Seq("band", "code"), "doc_id", ("doc_a", "doc_b"),
        verify = hamming <= 8, out = Seq(hamming.as("hamming")))
      .orderBy("doc_a", "doc_b")
  }

  private def simhashPairsOracle: String = {
    val bits = simhashBitExprs("duckdb").mkString(" || ")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, substr(simhash64, ${16 * b + 1}, 16) AS code FROM fp")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(nfc_normalize(text)), '[^\\p{L}]+'), x -> x <> '') AS words
       |  FROM documents),
       |sized AS (SELECT doc_id, words, len(words) AS size0 FROM docs),
       |fp AS (SELECT doc_id, $bits AS simhash64 FROM sized),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.code = b.code AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    bit_count(xor(fa.simhash64::BIT, fb.simhash64::BIT))::BIGINT AS hamming
       |  FROM pairs
       |  JOIN fp fa ON doc_a = fa.doc_id
       |  JOIN fp fb ON doc_b = fb.doc_id)
       |SELECT doc_a, doc_b, hamming FROM scored
       |WHERE hamming <= 8 ORDER BY doc_a, doc_b""".stripMargin
  }

  private def simhashOracle: String = {
    val bits = simhashBitExprs("duckdb").mkString(" || ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(nfc_normalize(text)), '[^\\p{L}]+'), x -> x <> '') AS words
       |  FROM documents),
       |sized AS (SELECT doc_id, words, len(words) AS size0 FROM docs),
       |fp AS (SELECT doc_id, $bits AS simhash64 FROM sized)
       |SELECT doc_id, simhash64, substr(simhash64, 1, 16) AS bucket16
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  // ---- exact n-gram Jaccard verification over LSH candidates ----------

  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = sigTable(s, d)
    val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sha"),
      size(col("shingles")).as("sza"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("shb"),
      size(col("shingles")).as("szb"))
    Blocking.pairs(bandsOf(sh), Seq("band", "h"), "doc_id", ("doc_a", "doc_b"))
      .join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  private def jaccardOracle: String =
    s"""WITH $shinglesCte,
       |$candidatePairsCte,
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) AS inter,
       |    len(sa.shingles) AS sza, len(sb.shingles) AS szb
       |  FROM pairs
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b,
       |  round(inter::DOUBLE / (sza + szb - inter), 6) AS jaccard
       |FROM scored
       |WHERE round(inter::DOUBLE / (sza + szb - inter), 6) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- incremental dedup against an existing corpus --------------------

  /** Number of equal minhash positions between two signature columns —
    * K × the estimated Jaccard.
    */
  private def minhashAgreement(a: String, b: String): Column =
    expr(s"size(filter(zip_with($a, $b, (x, y) -> x = y), v -> v))")

  /** Incremental near-dup dedup: which NEW documents survive against an
    * already-kept corpus? The missing entry point of the within-corpus
    * family — a real training pipeline deduplicates each new crawl
    * against everything already kept, not the union from scratch.
    *
    * Semantics (dominance rule): a new doc is DROPPED iff it has an
    * LSH-candidate match at estimated Jaccard >= `threshold` either in
    * `corpusSigs` or among the new docs with a SMALLER doc_id; kept
    * otherwise. Each doc's fate depends only on the pair set — no
    * sequential keep-chain — so the decision is one banded join + one
    * anti-join, embarrassingly parallel. It composes exactly: with every
    * corpus id below every new id,
    *   dedupAgainst(signatures(A), B)  ==  dominance-dedup(A ∪ B) ∩ B
    * unconditionally, and ∪ A equals the full-corpus result whenever A
    * is internally dup-free (both spec'd in DedupIncrementalSpec).
    *
    * Scale: `corpusSigs` is the materialized ~100 B/doc signature table
    * ([[sigTable]] semantics, `(doc_id, sig)` suffices) — the corpus
    * TEXT is never read. Shuffle keys are band digests and doc_ids; the
    * within-bucket join touches only same-bucket docs and verifies them
    * inside the join ([[Blocking]]).
    *
    * Persist lifecycle (decision, round 9): this convenience overload
    * computes the new batch's signatures itself and PARKS the persisted
    * frame in the session store until [[graft.Materialize.clear]]
    * — correct for the driver lifecycle (one Verify/Bench run, one
    * release), but a long-lived interactive session calling it in a loop
    * accumulates one pinned ~100 B/doc frame per call. Loop callers
    * (REPLs, per-trigger streaming) must use [[dedupAgainstSigs]] and
    * own the persist/unpersist themselves.
    *
    * @return the kept rows of `newDocs`, all columns, order unspecified.
    */
  def dedupAgainst(corpusSigs: DataFrame, newDocs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val newSigs = tracked(signatures(newDocs).select("doc_id", "sig")
      .persist(StorageLevel.MEMORY_AND_DISK))
    dedupAgainstSigs(corpusSigs, newDocs, newSigs, threshold)
  }

  /** [[dedupAgainst]] with the new batch's signatures supplied by the
    * caller, who owns their persist lifecycle — the loop-safe form: the
    * batch API above parks them in the session store (released by
    * [[graft.Materialize.clear]]), while a caller issuing many dedup
    * rounds on one session (a per-micro-batch `foreachBatch`, say)
    * must unpersist them as soon as the batch's writes land or a
    * long-running stream would accumulate one pinned frame per trigger.
    *
    * `newSigs` must be `signatures(newDocs).select("doc_id", "sig")` (or
    * a slice of a persisted signature table covering exactly `newDocs`'s
    * doc_ids) — the dominance verdicts join it back to `newDocs` by
    * doc_id.
    */
  def dedupAgainstSigs(corpusSigs: DataFrame, newDocs: DataFrame,
      newSigs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val nb = bandsOf(newSigs)
    // est_jaccard >= t  <=>  agreement >= t*K
    val verified = minhashAgreement("a.sig", "b.sig").cast("double") >= threshold * K
    // new docs colliding with the corpus in any band
    val dupOfCorpus = Blocking.across(bandsOf(corpusSigs.select("doc_id", "sig")),
      nb, Seq("band", "h"), "doc_id", ("old_id", "new_id"), verified)
    // new docs dominated by an earlier (smaller-id) near-dup new doc
    val dupOfEarlier = Blocking.pairs(nb, Seq("band", "h"), "doc_id",
      ("earlier_id", "new_id"), verified)
    newDocs.join(dupOfCorpus.union(dupOfEarlier).select(col("new_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** Driver-gated exercise of [[dedupAgainst]] on the standard tables:
    * even doc_ids play the already-kept corpus, odd doc_ids the incoming
    * crawl batch, and the result is the batch's survivors. Both signature
    * sides are parity filters over the memoized [[sigTable]] — a per-doc
    * signature doesn't depend on what else is in the corpus, so slicing
    * the shared table IS computing each side's signatures, without a
    * second shingle pass.
    */
  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val sigs = sigTable(s, d).select("doc_id", "sig")
    val fresh = documents(s, d).filter(col("doc_id") % 2 === 1)
    dedupAgainstSigs(
      sigs.filter(col("doc_id") % 2 === 0), fresh,
      sigs.filter(col("doc_id") % 2 === 1), threshold = 0.5)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** DuckDB twin of the parity-split [[dedupAgainstSigs]] dominance rule
    * over a shingle chain ending in `sh(doc_id, shingles)`, phrased over
    * the all-docs candidate-pair CTE: an odd (new) doc is dropped iff a
    * verified pair (agreement >= t·K) links it to an even (corpus) doc —
    * either side of the pair — or to a SMALLER odd doc (`doc_a < doc_b`
    * in `pairs`, so that's exactly the odd-`doc_b` branch). A larger odd
    * partner never drops a doc, hence the `doc_b % 2 = 0` guard on the
    * second branch. `odd` completes `doc_id % 2` to the batch test;
    * `survivors` is the select list and FROM clause of the kept rows.
    */
  private def dominanceOracle(shingles: String, odd: String,
      survivors: String): String =
    s"""WITH $shingles,
       |$candidatePairsCte,
       |verified AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sig sa ON doc_a = sa.doc_id
       |  JOIN sig sb ON doc_b = sb.doc_id
       |  WHERE ($matchSum) >= ${(0.5 * K).toInt}),
       |dropped AS (
       |  SELECT doc_b AS new_id FROM verified WHERE doc_b % 2 $odd
       |  UNION
       |  SELECT doc_a AS new_id FROM verified
       |  WHERE doc_a % 2 $odd AND doc_b % 2 = 0)
       |SELECT $survivors
       |WHERE doc_id % 2 $odd AND doc_id NOT IN (SELECT new_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  private def incrementalDedupOracle: String =
    dominanceOracle(shinglesCte, "= 1", "doc_id, lang, n_chars FROM documents")

  // ---- character-n-gram near-dup for unsegmented scripts ----------------

  /** Gram width for the character-shingle base. 5 code points of an
    * unsegmented script carry roughly the information of a word-level
    * bigram/trigram in a segmented one (CJK words average 1–3
    * characters), and published CJK dedup recipes sit in the 4–6 range;
    * at the fixture's document lengths 5 keeps the same
    * "long-enough-to-be-non-accidental" property as the word bases.
    */
  private val CHAR_GRAM = 5

  /** Planted CJK corpus for the char-gram contract rows: a 50+-letter
    * near-dup pair differing in the LAST character (one differing
    * 5-gram window — comfortably inside 4×4-LSH recall at j≈0.96) and
    * an unrelated CJK doc. All Lo characters: no case mapping anywhere
    * (lower() is the identity), so the planted rows certify the
    * char-gram pipeline, not Unicode case tables. Every doc carries at
    * least 50 letters so the routed length gate in
    * `text_pipeline_dedup` (50 units — ASCII words for latin docs,
    * letters for unsegmented ones) admits them: the round-17 contract
    * point is that the char-base near-dups CLUSTER (`dedup_cc`) and
    * the non-keepers get REMOVED by the pipeline, which requires the
    * plants to survive the quality gate first.
    */
  private[graft] val CJK_NEARDUP_DOCS: Seq[(Long, String)] = Seq(
    -41L -> "机器学习改变世界语言模型处理文本数据集质量决定结果去重是关键步骤大规模训练语料每天处理海量网页需要彻底清洗",
    -42L -> "机器学习改变世界语言模型处理文本数据集质量决定结果去重是关键步骤大规模训练语料每天处理海量网页需要彻底清理",
    -43L -> "北京大学计算机科学技术研究所发布最新研究报告分析互联网内容生态现状并提出系统治理建议方案供政策参考使用",
    // an identical pair: every minhash equal, est_jaccard exactly 1.0
    -45L -> "深度神经网络在自然语言处理领域取得重大突破注意力机制成为核心组件模型规模决定能力上限数据质量同样重要无比",
    -44L -> "深度神经网络在自然语言处理领域取得重大突破注意力机制成为核心组件模型规模决定能力上限数据质量同样重要无比",
    // a Japanese near-dup pair (hiragana, unsegmented like CJK), again
    // differing in the final character
    -47L -> "むかしむかしあるところにおじいさんとおばあさんがすんでいましたおじいさんはやまへしばかりにおばあさんはかわへせんたくにいきました",
    -46L -> "むかしむかしあるところにおじいさんとおばあさんがすんでいましたおじいさんはやまへしばかりにおばあさんはかわへせんたくにいきまして")

  /** Character-5-gram shingles over the `\p{L}`-squeezed normalized
    * text — the near-dup base for scripts written WITHOUT word
    * separators, where the word-shingle family is structurally blind: a
    * CJK document is ONE maximal letter run, so its whole text is its
    * only word-shingle and a near-duplicate differing by one character
    * shares nothing (DedupSoundnessSpec pins exactly that miss, and
    * this query's catch). Non-letters are DROPPED, not turned into
    * boundaries, so punctuation variants of the same prose land on the
    * same grams.
    *
    * Scale shape: identical to the word pipeline — both bases share
    * [[sigOf]] and the banding — but the shingle EXPLOSION is one row
    * per code point rather than per word (~3–5× the word base's rows on
    * segmented text). Hence every char-base consumer reads the
    * [[ScriptRouting.routed]] slice: run UNROUTED over the segmented
    * 500k-doc rehearsal corpus, the base stayed bit-correct (42.7M
    * verified pairs matched DuckDB at 100× — SCALE.md) but over-paired
    * ~1,700× the word base at ~200× its wall, and every letterless doc
    * would share the `""` fallback shingle.
    */
  private def withCharShingles(df: DataFrame): DataFrame =
    df.withColumn("shingles",
      array_distinct(org.apache.spark.sql.graft.TextColumns
        .charNGrams(lower(org.apache.spark.sql.graft.TextColumns
          .nfc(col("text"))), CHAR_GRAM)))

  private def charSigTable(s: SparkSession, d: String): DataFrame =
    graft.Materialize.memo(s, d, "dedup.char_sig_table") {
      sigOf(tracked(withCharShingles(ScriptRouting.routed(
          ScriptRouting.corpus(s, d, CJK_NEARDUP_DOCS)))
        .select("doc_id", "shingles")
        .persist(StorageLevel.MEMORY_AND_DISK)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** [[minhashPairs]] over the char-gram signatures of the routed
    * corpus ∪ [[CJK_NEARDUP_DOCS]]. The planted rows are visible in
    * this query's output by design.
    */
  private def chargramPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairsOfSigs(charSigTable(s, d), 0.5)
      .orderBy("doc_a", "doc_b")

  /** Oracle twin of [[withCharShingles]] over the routed corpus ∪
    * `planted` (DuckDB's substr/length are code-point-indexed, matching
    * the expression's window arithmetic — proven on the planted 3-byte
    * CJK rows every run), ending in `sh$sfx(doc_id, shingles)` — the
    * [[shinglesCte]] shape, so [[candidatePairsCteFor]] composes
    * verbatim and the chain can sit beside the word chain in the
    * routed-union CC oracle.
    */
  private def charShinglesCte(planted: Seq[(Long, String)],
      sfx: String = ""): String =
    s"""${ScriptRouting.routedSql(planted, sfx)},
       |sh$sfx AS (
       |  SELECT doc_id, list_distinct(CASE WHEN length(sq) >= $CHAR_GRAM
       |    THEN list_transform(range(length(sq) - ${CHAR_GRAM - 1}),
       |      i -> substr(sq, i + 1, $CHAR_GRAM))
       |    ELSE [sq] END) AS shingles
       |  FROM routed$sfx)""".stripMargin

  private def chargramPairsOracle: String =
    pairsOracle(charShinglesCte(CJK_NEARDUP_DOCS))

  // ---- incremental dedup for unsegmented scripts ------------------------

  /** Planted CJK docs for the routed incremental row. Even ids play the
    * already-kept corpus, odd ids the incoming batch — phrased
    * `% 2 <> 0` for the batch in BOTH engines because a negative odd
    * id's truncated remainder is -1, not 1 (the positive-id word
    * instance can say `= 1`; these plants cannot). Fates hand-derived
    * from the dominance rule:
    *  - -62 corpus prose (even);
    *  - -61 batch near-dup of -62, differing in the final character →
    *    DROPPED by the corpus arm;
    *  - -59 batch original → KEPT, and the smaller-id dominator below;
    *  - -57 batch near-dup of -59 → DROPPED by the earlier-smaller-id
    *    arm (-59 < -57);
    *  - -55 batch original → KEPT.
    * All Lo characters (`lower()` is the identity — the
    * [[ScriptRouting]] caveat class is avoided), 50+ letters each.
    */
  private[graft] val CJK_INCR_DOCS: Seq[(Long, String)] = Seq(
    -62L -> "分布式存储系统通过多副本复制保证数据持久性一致性协议协调节点状态故障转移机制确保服务持续可用整体性能依赖缓存",
    -61L -> "分布式存储系统通过多副本复制保证数据持久性一致性协议协调节点状态故障转移机制确保服务持续可用整体性能依赖缓冲",
    -59L -> "春天的花园里开满了各种颜色的鲜花蝴蝶在花丛中飞舞蜜蜂忙着采蜜小鸟在枝头歌唱温暖的阳光洒满大地微风轻拂柳条摇曳",
    -57L -> "春天的花园里开满了各种颜色的鲜花蝴蝶在花丛中飞舞蜜蜂忙着采蜜小鸟在枝头歌唱温暖的阳光洒满大地微风轻拂柳条摇动",
    -55L -> "量子计算利用叠加态和纠缠实现并行计算能力远超经典计算机在密码学药物设计材料科学领域具有广阔应用前景值得期待关注")

  /** [[incrementalDedup]] over the routed corpus ∪ [[CJK_INCR_DOCS]]
    * (negative odd ids, hence `=!= 0` for the batch), reporting each
    * survivor's letter mass. One routed signature build serves both
    * parity slices; the batch's routed slice is a semi join against its
    * own signature ids.
    */
  private def incrementalDedupChars(s: SparkSession, d: String): DataFrame = {
    val corpus = ScriptRouting.corpus(s, d, CJK_INCR_DOCS)
    val sigs = tracked(sigOf(withCharShingles(ScriptRouting.routed(corpus))
      .select("doc_id", "shingles")).select("doc_id", "sig")
      .persist(StorageLevel.MEMORY_AND_DISK))
    val oddSigs = sigs.filter(col("doc_id") % 2 =!= 0)
    val fresh = corpus.filter(col("doc_id") % 2 =!= 0)
      .join(oddSigs.select("doc_id"), Seq("doc_id"), "left_semi")
    dedupAgainstSigs(sigs.filter(col("doc_id") % 2 === 0), fresh, oddSigs)
      .select(col("doc_id"),
        length(ScriptRouting.squeezedLetters(col("text")))
          .cast("long").as("n_letters"))
      .orderBy("doc_id")
  }

  private def incrementalDedupCharsOracle: String =
    dominanceOracle(charShinglesCte(CJK_INCR_DOCS), "<> 0",
      "doc_id, length(sq)::BIGINT AS n_letters FROM routed")

  // ---- connected-components duplicate clusters ------------------------

  /** Transitive near-dup CLUSTERS: connected components over the
    * SCRIPT-ROUTED UNION of both bases' est-Jaccard >= 0.5 LSH pair
    * graphs, labels = min doc_id reachable. A near-dup B and B
    * near-dup C puts A,B,C in one cluster even when A,C never collide
    * in any band — the set-cover step an actual corpus dedup runs
    * after pair generation.
    *
    * Routing (round 17): latin-class docs contribute edges through the
    * WORD-shingle base, unsegmented-class docs through the CHAR-gram
    * base, letterless docs through neither — one [[ScriptRouting]]
    * decision, two signature front-ends, one shared band+verify
    * pipeline, one edge union. Before this, `dedup_cc` consumed only
    * word-base pairs, so the CJK near-dups `dedup_chargram_pairs`
    * provably finds never clustered and never got removed by the
    * composed pipeline (round-16 verdict #1; DedupSoundnessSpec pins
    * the planted pair landing in a cluster). The word side routes by
    * slicing the MEMOIZED signature table to latin doc_ids — a per-doc
    * signature doesn't depend on the rest of the corpus, so the slice
    * IS the routed signature set, with no second shingle pass; pairing
    * a routed subset equals endpoint-filtering the full pair set
    * because band collisions are per-doc deterministic.
    *
    * Spark shape: iterative min-label propagation (the standard
    * Pregel/GraphX connected-components recurrence) as a driver loop of
    * join+min-aggregate rounds, converging in O(component diameter)
    * iterations — dup clusters are shallow, so 3-4 rounds in practice.
    * Each round shuffles only (doc_id, label) longs, never content; at
    * 100 TB the edge set (LSH survivors) is orders of magnitude smaller
    * than the corpus, and the driver holds nothing but a loop counter
    * and the converged flag.
    */
  /** The store name of the memoized CC labels: forgetting it makes the
    * next `dedup_cc` build rerun the propagation loop over the warm
    * signature memos.
    */
  private[graft] val CcLabels = "dedup.cc_labels"

  /** (doc_id, cluster_id) for every document — the converged CC labels,
    * memoized per (session, sfDir) and persisted: both the dedup_cc
    * query and the composed pipeline consume them, and the propagation
    * loop is the one genuinely multi-pass operator in the module (round-3
    * advice flagged the duplicate re-execution). The build memoizes both
    * signature tables itself, and a concurrent caller waits for the one
    * build instead of running the loop twice.
    */
  private[operators] def ccLabels(s: SparkSession, d: String): DataFrame =
    graft.Materialize.memo(s, d, CcLabels) {
      import s.implicits._
      // word base, routed: slice the memoized signature table to the
      // latin class (one squeeze projection over the corpus — the
      // planted docs are all unsegmented and the signature table
      // covers documents only, so the slice needs no planted union)
      val latinIds = documents(s, d)
        .withColumn("sq", ScriptRouting.squeezedLetters(col("text")))
        .filter(ScriptRouting.latin(col("sq")))
        .select("doc_id")
      // the scope unpersists both input caches once labels() has run its
      // loop (eager per-round checkpoints: the result carries checkpointed
      // lineage, not the edge plan), and on a failed build, when nothing
      // else could reach them
      graft.Materialize.rounds { rounds =>
        val latinSigs = rounds.persist(
          sigTable(s, d).select("doc_id", "sig").join(latinIds, "doc_id"))
        val wordPairs = verifiedPairsOfSigs(latinSigs, 0.5)
          .select("doc_a", "doc_b")
        // char base, routed: the memoized char-gram signature table is
        // already unsegmented-only (and carries the planted CJK docs —
        // the contract corpus, so the planted near-dups cluster)
        val charPairs = verifiedPairsOfSigs(charSigTable(s, d), 0.5)
          .select("doc_a", "doc_b")
        val pairs = wordPairs.union(charPairs)
        // Materialize the corpus-scale upstream (signature aggregation,
        // LSH band join, agreement verify) BEFORE narrowing the fan-out:
        // shuffle-partition conf is read when a job RUNS, not where its
        // frame is defined, so without this eager cut a first dedup_cc
        // call would execute the whole corpus pipeline at 8 reducers.
        val edges = rounds.persist(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        edges.count()
        // the iterated tables are label/edge sets (LSH survivors) — tiny
        // relative to the corpus — so per-round task-launch overhead
        // dominates at the session's default fan-out
        val nodes = documents(s, d).select(col("doc_id").as("id"))
          .unionByName(CJK_NEARDUP_DOCS.map(_._1).toDF("id"))
        graft.Tuning.withShufflePartitions(s, 8) {
          ConnectedComponents.labels(nodes, edges)
            .select(col("id").as("doc_id"), col("component").as("cluster_id"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        }
      }
    }

  private def ccClusters(s: SparkSession, d: String): DataFrame =
    ccLabels(s, d).orderBy("doc_id")

  /** The full recursive CTE chain computing `reach` (doc_id, lbl) —
    * component labels via reachability over the ROUTED UNION of the
    * word-base and char-base pair graphs (word pairs endpoint-filtered
    * to the latin class; char pairs already routed by their shingle
    * chain, planted CJK docs included — the [[ccLabels]] semantics
    * verbatim: endpoint-filtering equals input routing because band
    * collisions are per-doc deterministic). Callers prepend
    * `WITH RECURSIVE` and aggregate `min(lbl)` per doc_id. Shared with
    * the composed pipeline oracle in TextAnalysis.
    */
  private[operators] def ccOracleCtes: String =
    s"""$shinglesCte,
       |$candidatePairsCte,
       |sqw AS (
       |  SELECT doc_id, ${ScriptRouting.sqSql} AS sq FROM documents),
       |lat AS (SELECT doc_id FROM sqw WHERE ${ScriptRouting.latinSql("sq")}),
       |wfilt AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN lat la ON doc_a = la.doc_id
       |  JOIN lat lb ON doc_b = lb.doc_id
       |  JOIN sig sa ON doc_a = sa.doc_id
       |  JOIN sig sb ON doc_b = sb.doc_id
       |  WHERE 2 * ($matchSum) >= $K),
       |${charShinglesCte(CJK_NEARDUP_DOCS, "c")},
       |${candidatePairsCteFor("shc", "c")},
       |cfilt AS (
       |  SELECT doc_a, doc_b FROM pairsc
       |  JOIN sigc sa ON doc_a = sa.doc_id
       |  JOIN sigc sb ON doc_b = sb.doc_id
       |  WHERE 2 * ($matchSum) >= $K),
       |filt AS (
       |  SELECT doc_a, doc_b FROM wfilt
       |  UNION ALL
       |  SELECT doc_a, doc_b FROM cfilt),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM filt
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM filt),
       |nodes AS (SELECT doc_id FROM corpusc),
       |reach AS (
       |  SELECT doc_id, doc_id AS lbl FROM nodes
       |  UNION
       |  SELECT e.dst AS doc_id, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id)""".stripMargin

  private def ccClustersOracle: String =
    s"""WITH RECURSIVE $ccOracleCtes
       |SELECT doc_id, min(lbl)::BIGINT AS cluster_id
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- exact repeated-substring spans ----------------------------------

  /** Sliding-window width (in words) for substring-level dedup. Published
    * pipelines cut at ~50 BPE tokens; the fixture docs are 20-60 words,
    * so 8 keeps the "long enough to be non-accidental" property at
    * fixture length (same reasoning as TrainingPipeline.DECON_GRAM).
    */
  private val SUB_GRAM = 8

  /** Positional window table (doc_id, pos, gh) of a (doc_id, grams)
    * frame: one row per window, gh = 16-char md5 prefix of its text.
    *
    * Computed FRESH per query — deliberately uncached, unlike the
    * module's shingle/signature tables. The whole pass is one codegen'd
    * projection over the scan plus the explode, and the n-gram scanner
    * (a Catalyst expression) runs once per DOCUMENT: `posexplode_outer`
    * with `pos IS NOT NULL` drops the empty arrays after the Generate,
    * where a plain `posexplode` makes the optimizer infer a
    * `size(grams) > 0` filter below it that evaluates the scanner a
    * second time (measured 23.6M windows in ~11 s at the 500k-doc
    * decade). Caching it costs far more than it saves: materializing
    * the columnar cache of 500k string-arrays plus 23.6M exploded rows
    * took 60 s + 136 s at the same decade. [[spanFrame]] reads it in one
    * pass, which still works when the corpus is 100 TB and no
    * corpus-sized cache exists.
    */
  private def windowsOf(grams: DataFrame): DataFrame =
    grams.select(col("doc_id"),
        posexplode_outer(col("grams")).as(Seq("pos", "gram")))
      .filter(col("pos").isNotNull)
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        substring(md5(col("gram")), 1, 16).as("gh"))

  /** [[SUB_GRAM]]-word windows over the NORMALIZED word stream — lower(nfc)
    * over `\p{L}` runs, the same fold+scanner as the shingle front-end:
    * a capitalized copy of a license block must hit the lowercase
    * original, a non-Latin license block must window at all, and the
    * cut side below tokenizes identically so span indices line up.
    * Documents below the window width yield no windows (WordNGramsExact
    * returns an empty array there, in the same letter scan).
    */
  private def subGramTable(s: SparkSession, d: String): DataFrame =
    windowsOf(documents(s, d)
      .withColumn("grams",
        org.apache.spark.sql.graft.TextColumns.wordNGramsUExact(
          lower(org.apache.spark.sql.graft.TextColumns.nfc(col("text"))),
          SUB_GRAM)))

  /** Exact repeated-substring spans — the substring-level dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): for every document, each MAXIMAL run of `width`-unit
    * windows of `pos` ([[windowsOf]]) whose text occurs at least twice
    * anywhere in the corpus (other documents or elsewhere in the same
    * one). Adjacent duplicated windows merge gaps-and-islands style
    * (island = pos − row_number over pos), so a long verbatim repeat
    * reports as ONE span, not n overlapping windows. Emits (doc_id,
    * span_start, span_end exclusive, n_windows) — the cut list a
    * substring-dedup pass applies to the corpus; the word and char
    * reports and the cut path all read it.
    *
    * Differs from the doc-level MinHash family above (whole-document
    * similarity) and from pipe_decontaminate (cross-corpus containment):
    * this finds the repeated REGIONS inside otherwise-distinct docs —
    * boilerplate headers, license blocks, quoted passages.
    *
    * Scale: windows shuffle as (doc_id, pos, 16-char digest) — text
    * never leaves the scan stage. One scan feeds one exchange on the
    * digest, where a window count per digest keeps the windows that
    * occur at least twice: a group-by count joined back to the windows
    * read the corpus twice, once per side. A digest that occurs in
    * millions of documents is one window group in one task; its rows
    * spill from the window buffer rather than fail, the same hot key a
    * join on the digest sends to one task. The island window sorts each
    * document's hits only — bounded by document length, never corpus
    * size. At fixed window width the whole pipeline is linear in corpus
    * units.
    */
  private def spanFrame(pos: DataFrame, width: Int): DataFrame = {
    val sameDigest = Window.partitionBy("gh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    pos.withColumn("c", count(lit(1)).over(sameDigest))
      .filter(col("c") >= 2)
      .withColumn("island", col("pos") - row_number().over(w).cast(LongType))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + lit(width.toLong)).as("span_end"),
        count(lit(1)).as("n_windows"))
  }

  /** The span report: (doc_id, span_start, span length as `unit`,
    * n_windows).
    */
  private def spanReport(pos: DataFrame, width: Int, unit: String): DataFrame =
    spanFrame(pos, width)
      .select(col("doc_id"), col("span_start"),
        (col("span_end") - col("span_start")).as(unit),
        col("n_windows"))
      .orderBy("doc_id", "span_start")

  private def substringSpans(s: SparkSession, d: String): DataFrame =
    spanReport(subGramTable(s, d), SUB_GRAM, "span_words")

  /** Oracle twin of [[spanFrame]] over a window chain ending in
    * `g(doc_id, grams)`: CTEs pos, dup, hit, isl and spans(doc_id, st,
    * en, nw).
    */
  private def spanCtes(grams: String, width: Int): String =
    s"""$grams,
       |pos AS (
       |  SELECT doc_id, unnest(range(len(grams))) AS pos,
       |    unnest(list_transform(grams, x -> substr(md5(x), 1, 16))) AS gh
       |  FROM g),
       |dup AS (SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2),
       |hit AS (SELECT pos.doc_id, pos.pos FROM pos JOIN dup USING (gh)),
       |isl AS (SELECT doc_id, pos,
       |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM hit),
       |spans AS (
       |  SELECT doc_id, min(pos) AS st, max(pos) + $width AS en,
       |    count(*) AS nw
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** Oracle twin of [[spanReport]] over [[spanCtes]]. */
  private def spanReportOracle(spans: String, unit: String): String =
    s"""WITH $spans
       |SELECT doc_id, st::BIGINT AS span_start,
       |  (en - st)::BIGINT AS $unit, nw::BIGINT AS n_windows
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** The word chain: CTEs docs(doc_id, words) and g, then spans. */
  private def spanOracleCtes: String = {
    val gram = (1 to SUB_GRAM).map(j => s"words[i+$j]").mkString(" || ' ' || ")
    spanCtes(s"""docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(nfc_normalize(text)), '[^\\p{L}]+'), x -> x <> '') AS words
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CASE WHEN len(words) >= $SUB_GRAM
       |    THEN list_transform(range(len(words)-${SUB_GRAM - 1}), i -> $gram)
       |    ELSE [] END AS grams
       |  FROM docs)""".stripMargin, SUB_GRAM)
  }

  private def substringSpansOracle: String =
    spanReportOracle(spanOracleCtes, "span_words")

  /** The apply path of [[substringSpans]]: cut every word covered by a
    * duplicated span out of each document and publish the surgery
    * manifest — word counts before/after and an md5 of the cleaned text
    * (space-joined kept words), so the oracle proves the exact cut, not
    * just the sizes.
    *
    * Scale: spans collect per document (bounded by document length, and
    * only for documents that HAVE spans), then the cut itself is
    * row-local — one pass over the words array against the doc's own
    * span list. The only new exchanges are the span collect and the
    * left join back to the corpus, both keyed on doc_id.
    */
  private def substringCut(s: SparkSession, d: String): DataFrame = {
    val sp = spanFrame(subGramTable(s, d), SUB_GRAM).groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("st"),
        col("span_end").as("en"))).as("spans"))
    documents(s, d)
      // the cut operates on the same normalized word stream the spans
      // were found over (indices must agree) — the manifest therefore
      // describes the folded text; a pipeline splicing ORIGINAL bytes
      // would map word indices back through an offset table, which is
      // row-local bookkeeping, not a different distributed shape
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextColumns.letterTokens(
          lower(org.apache.spark.sql.graft.TextColumns.nfc(col("text"))))
          .as("words"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("words"))
          .otherwise(expr(
            "filter(words, (x, i) -> NOT exists(spans, s -> i >= s.st AND i < s.en))")))
      .select(col("doc_id"),
        size(col("words")).cast(LongType).as("n_words"),
        size(col("kept")).cast(LongType).as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      .orderBy("doc_id")
  }

  private def substringCutOracle: String =
    s"""WITH $spanOracleCtes,
       |sp AS (
       |  SELECT doc_id, list({'st': st, 'en': en}) AS sps
       |  FROM spans GROUP BY doc_id),
       |cut AS (
       |  SELECT d.doc_id, d.words,
       |    CASE WHEN sp.sps IS NULL THEN d.words
       |    ELSE list_filter(d.words, (x, i) ->
       |      len(list_filter(sp.sps, s -> i - 1 >= s.st AND i - 1 < s.en)) = 0)
       |    END AS kept
       |  FROM docs d LEFT JOIN sp ON d.doc_id = sp.doc_id)
       |SELECT doc_id, len(words)::BIGINT AS n_words, len(kept)::BIGINT AS n_kept,
       |  md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
       |FROM cut ORDER BY doc_id""".stripMargin

  // ---- char-window repeated-substring spans (unsegmented scripts) -------

  /** Sliding-window width (code points) for char-level substring dedup:
    * a CJK doc is ONE `\p{L}` word, so the 8-WORD window table is
    * structurally empty for it. 20 characters of an unsegmented script
    * carry roughly the
    * information of the 8-word window on segmented text (CJK words
    * average 1–3 characters) and keep the "long enough to be
    * non-accidental" property at the planted-doc lengths, the same
    * reasoning as [[SUB_GRAM]] at fixture length.
    */
  private val SUB_CHAR = 20

  /** Planted corpus for the char-window span rows (all Lo/`\p{L}`
    * characters, no quotes — they embed in oracle VALUES): two docs
    * share a 26-char block at DIFFERENT positions (cross-doc repeat →
    * one maximal span each, position-independent by content hashing),
    * one doc repeats its own 26-char phrase twice (within-doc repeat →
    * two spans), one doc is unrelated (no spans).
    */
  private[graft] val CJK_SPAN_DOCS: Seq[(Long, String)] = Seq(
    -51L -> "第一篇文档开头介绍背景本软件按现状提供不附带任何明示或暗示的保证包括适销性其余内容完全不同结尾甲",
    -52L -> "另一份资料前言部分说明目标本软件按现状提供不附带任何明示或暗示的保证包括适销性后续章节各自独立结尾乙",
    -53L -> "完全无关的参考文献列表包含若干条目每条都有独立编号和标题说明页码出版社信息等等共五十多个汉字构成",
    -54L -> "文章开场白这一段宣传语会在同一篇文章里面原样重复出现两次供检测中间插叙部分这一段宣传语会在同一篇文章里面原样重复出现两次供检测收尾总结段")

  /** [[SUB_CHAR]]-code-point windows of the routed corpus ∪
    * [[CJK_SPAN_DOCS]] squeeze; positions are code-point indices, and
    * docs below the window width yield no windows.
    */
  private def subCharTable(s: SparkSession, d: String): DataFrame =
    windowsOf(ScriptRouting.routed(ScriptRouting.corpus(s, d, CJK_SPAN_DOCS))
      .withColumn("grams",
        when(length(col("sq")) >= SUB_CHAR,
          org.apache.spark.sql.graft.TextColumns.charNGrams(col("sq"), SUB_CHAR))
          .otherwise(array().cast("array<string>"))))

  /** [[substringSpans]] for unsegmented scripts, in char extents. The
    * planted docs certify cross-doc repeats (a license-ish block shared
    * at different positions), within-doc repeats (a phrase occurring
    * twice → two spans) and the no-span control.
    */
  private def substringCharSpans(s: SparkSession, d: String): DataFrame =
    spanReport(subCharTable(s, d), SUB_CHAR, "span_chars")

  private def substringCharSpansOracle: String =
    spanReportOracle(spanCtes(
      s"""${ScriptRouting.routedSql(CJK_SPAN_DOCS)},
         |g AS (
         |  SELECT doc_id, CASE WHEN length(sq) >= $SUB_CHAR
         |    THEN list_transform(range(length(sq) - ${SUB_CHAR - 1}),
         |      i -> substr(sq, i + 1, $SUB_CHAR))
         |    ELSE [] END AS grams
         |  FROM routed)""".stripMargin, SUB_CHAR), "span_chars")

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> exactGroups _,
    "dedup_exact_fold"    -> exactGroupsFold _,
    "dedup_exact_keep"    -> exactKeep _,
    "dedup_exact_keep_fold" -> exactKeepFold _,
    "dedup_minhash_sig"   -> minhashSig _,
    "dedup_minhash_pairs" -> minhashPairs _,
    "dedup_simhash"       -> simhash _,
    "dedup_simhash_pairs" -> simhashPairs _,
    "dedup_jaccard_pairs" -> jaccardPairs _,
    "dedup_chargram_pairs" -> chargramPairs _,
    "dedup_cc"            -> ccClusters _,
    "dedup_incremental"   -> incrementalDedup _,
    "dedup_incremental_chars" -> incrementalDedupChars _,
    "dedup_substring"     -> substringSpans _,
    "dedup_substring_cut" -> substringCut _,
    "dedup_substring_chars" -> substringCharSpans _,
    "graph_pagerank"      -> pagerank _,
  )

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "dedup_exact_fold"    -> exactGroupsFoldOracle,
    "dedup_exact_keep_fold" -> exactKeepFoldOracle,
    "dedup_exact_keep" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_minhash_sig"   -> minhashSigOracle,
    "dedup_minhash_pairs" -> minhashPairsOracle,
    "dedup_simhash"       -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle,
    "dedup_jaccard_pairs" -> jaccardOracle,
    "dedup_chargram_pairs" -> chargramPairsOracle,
    "dedup_cc"            -> ccClustersOracle,
    "dedup_incremental"   -> incrementalDedupOracle,
    "dedup_incremental_chars" -> incrementalDedupCharsOracle,
    "dedup_substring"     -> substringSpansOracle,
    "dedup_substring_cut" -> substringCutOracle,
    "dedup_substring_chars" -> substringCharSpansOracle,
    "graph_pagerank"      -> pagerankOracle,
  )
}
