package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextColumns.{letterTokens, nfc, wordNGramsU}
import org.apache.spark.sql.graft.VectorColumns.{vecDot, vecNorm}

/** Training-data pipeline operators over `documents` / `embeddings` —
  * the LLM-corpus preparation surface beyond dedup/similarity/quality
  * (SURVEY §2.C north stars; the reference — a word-count MapReduce,
  * `mr/word_count.h:22-38` — has no analogue, so these follow the
  * published pipeline recipes: benchmark decontamination, concat-and-
  * chunk sequence packing, stratified/weighted sampling, Gopher-style
  * repetition filters, SemDeDup-style semantic pruning).
  *
  * Determinism discipline: every sampling decision uses exact 64-bit
  * integer hashing (Knuth multiplicative, modular) — never an engine
  * RNG and never float thresholds — so the DuckDB oracle reproduces the
  * selections bit-for-bit at any scale.
  *
  * Scale notes (100 TB stance) are per-operator below; the common theme
  * is that every shuffle here carries doc_id + small integers (never
  * text), small sides are broadcast, and per-group windows are bounded
  * by construction (shard-local packing, prefiltered quotas).
  */
object TrainingPipeline extends QueryModule {

  import Tables._

  /** Materialize an n-gram-array frame BEFORE its explode consumers,
    * once per (session, sfDir) — the Dedup signature-table pattern.
    * Two reasons, both structural:
    *
    *  1. Without the barrier, CollapseProject inlines the interpreted
    *     transform(...) lambda into GenerateExec's generator, which
    *     re-evaluates it once per OUTPUT element — O(grams²) per
    *     document (measured 26 s vs 0.2 s for the same 5 k-doc explode).
    *     Quadratic in document length is fatal at 100 TB, so every gram
    *     explode in this module reads a materialized array column.
    *  2. Both consumers of the frame (the benchmark index and the
    *     training side; the bigram explode and the per-doc sizes) would
    *     otherwise each re-run the interpreted array build.
    *
    * At cluster scale the equivalent is writing the gram table to
    * storage once — the point is the barrier, not the heap. The frame
    * lives in the session store, released with every other memo.
    */
  private def materialized(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame =
    graft.Materialize.memo(s, d, s"pipe.$tag")(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // ---- shared text helpers (mirrors Dedup/TextAnalysis tokenization) --

  /** Words over the NORMALIZED fold — lower(nfc) over `\p{L}` runs
    * (the codegen'd [[letterTokens]] scanner), the same base the dedup
    * near-dup front-end tokenizes (capitalized/NFD spellings of
    * benchmark prose must still decontaminate, and non-Latin benchmark
    * prose must produce grams at all; see Dedup.withShingles for the
    * recall argument and the oracle recipe).
    */
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("words", letterTokens(lower(nfc(col("text")))))

  private val wordsCte =
    """docs AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split_regex(lower(nfc_normalize(text)), '[^\p{L}]+'), x -> x <> '') AS words
      |  FROM documents)""".stripMargin

  // ---- decontamination -------------------------------------------------

  /** Shingle width for decontamination. Published pipelines use 13-gram
    * token overlap against benchmark text; the fixture docs are 20-60
    * words, so 8 keeps the same "long enough to be non-accidental"
    * property at fixture length.
    */
  private val DECON_GRAM = 8
  /** Every 97th doc plays the held-out benchmark; the rest are the
    * training corpus being decontaminated.
    */
  private val DECON_MOD = 97

  /** Grams via the codegen'd [[wordNGramsU]] expression — bit-exact twin
    * of the declarative HOF form the oracle (gramsCte) uses, in one
    * O(len + output) byte pass per document instead of an interpreted
    * per-window expression-tree walk (the equality is property-tested in
    * TextExpressionProps; the oracle compare re-proves it per run).
    */
  private def withGrams(df: DataFrame): DataFrame =
    df.withColumn("grams", array_distinct(wordNGramsU(lower(nfc(col("text"))), DECON_GRAM)))

  private val gramsCte =
    s"""g AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(words) >= $DECON_GRAM
       |      THEN list_transform(range(len(words)-${DECON_GRAM - 1}),
       |        i -> ${(1 to DECON_GRAM).map(j => s"words[i+$j]").mkString(" || ' ' || ")})
       |      ELSE [array_to_string(words, ' ')] END) AS grams
       |  FROM docs)""".stripMargin

  /** Benchmark n-gram decontamination over a gram table `g(doc_id,
    * grams)` of distinct grams per doc: flag every training document
    * sharing at least one gram with the held-out benchmark slice,
    * reporting how many of its distinct grams hit.
    *
    * Scale: the benchmark index is distinct grams of the EVAL set —
    * megabytes even when the training corpus is 100 TB — so it rides a
    * broadcast hash join (a Bloom filter over the same set is the
    * lossy variant; the broadcast is exact at the same network cost
    * here). The training side streams through explode → broadcast-join
    * → partial-count; nothing wide shuffles: the only exchange is the
    * (doc_id, count) aggregation.
    */
  private def deconReport(g: DataFrame): DataFrame =
    g.filter(col("doc_id") % DECON_MOD =!= 0)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .join(broadcast(benchIndex(g)), "gram")
      .groupBy("doc_id")
      .agg(max("n_grams").as("n_grams"), count(lit(1)).as("n_hits"))
      .orderBy("doc_id")

  /** The distinct grams of the benchmark slice of a gram table. */
  private def benchIndex(g: DataFrame): DataFrame =
    g.filter(col("doc_id") % DECON_MOD === 0)
      .select(explode(col("grams")).as("gram")).distinct()

  /** DuckDB twin of [[deconReport]] over a CTE chain ending in
    * `g(doc_id, grams)`.
    */
  private def deconReportOracle(grams: String): String =
    s"""WITH $grams,
       |bench AS (
       |  SELECT DISTINCT unnest(grams) AS gram FROM g
       |  WHERE doc_id % $DECON_MOD = 0),
       |train AS (
       |  SELECT doc_id, len(grams)::BIGINT AS n_grams, unnest(grams) AS gram
       |  FROM g WHERE doc_id % $DECON_MOD <> 0)
       |SELECT train.doc_id, max(train.n_grams) AS n_grams,
       |  count(*)::BIGINT AS n_hits
       |FROM train JOIN bench ON train.gram = bench.gram
       |GROUP BY train.doc_id ORDER BY doc_id""".stripMargin

  /** The [[DECON_GRAM]]-word gram table, once per session. */
  private def deconGrams(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "decon_grams")(
      withGrams(documents(s, d)).select("doc_id", "grams"))

  private def decontaminate(s: SparkSession, d: String): DataFrame =
    deconReport(deconGrams(s, d))

  private def decontaminateOracle: String =
    deconReportOracle(s"$wordsCte,\n$gramsCte")

  /** The APPLY path of [[decontaminate]]: drop every flagged training
    * document and emit the retained-corpus manifest — what a pipeline
    * actually trains on after the report. Reuses the memoized gram
    * table (same materialization tag), so running report + cut in one
    * session pays the gram build once; the cut itself is the broadcast
    * hit-join again plus one anti-join keyed on doc_id (a long per
    * flagged doc crosses the wire, never text). Same shapes at 100 TB:
    * the benchmark index broadcasts, the flagged set is corpus-derived
    * but id-only.
    */
  private def decontaminateCut(s: SparkSession, d: String): DataFrame = {
    val g = deconGrams(s, d)
    val flagged = g.filter(col("doc_id") % DECON_MOD =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(benchIndex(g)), "gram")
      .select("doc_id").distinct()
    documents(s, d).filter(col("doc_id") % DECON_MOD =!= 0)
      .join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  private def decontaminateCutOracle: String =
    s"""WITH $wordsCte,
       |$gramsCte,
       |bench AS (
       |  SELECT DISTINCT unnest(grams) AS gram FROM g
       |  WHERE doc_id % $DECON_MOD = 0),
       |train AS (
       |  SELECT doc_id, unnest(grams) AS gram
       |  FROM g WHERE doc_id % $DECON_MOD <> 0),
       |flagged AS (
       |  SELECT DISTINCT train.doc_id FROM train
       |  JOIN bench ON train.gram = bench.gram)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id % $DECON_MOD <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM flagged)
       |ORDER BY doc_id""".stripMargin

  // ---- decontamination, unsegmented scripts ------------------------------

  /** Char-gram width for unsegmented-script decontamination — the
    * [[DECON_GRAM]]-word window's twin under the char tokenizer (CJK
    * words average 1–3 characters, so 20 code points ≈ the 8-word /
    * published 13-token overlap windows at the planted lengths; the
    * same reasoning as Dedup's char-window width).
    */
  private val DECON_CHAR_GRAM = 20

  /** Planted docs for the routed decontamination row (all `\p{L}`,
    * no quotes): -97 ≡ 0 (mod [[DECON_MOD]]) plays the held-out
    * benchmark and embeds a 23-char exam block; -96 is a training doc
    * quoting that block verbatim (must flag with its hit count); -95
    * is clean training prose (must NOT flag). Both engines compute
    * `-97 % 97 = 0` and `-96 % 97 ≠ 0` (truncated remainder follows
    * the dividend in Spark and DuckDB alike).
    */
  private[graft] val CJK_DECON_DOCS: Seq[(Long, String)] = Seq(
    -97L -> "标准测试基准数据集包含考试题目要求计算下列函数的导数并给出完整推导过程以及参考答案",
    -96L -> "某网页教学材料里恰好抄录了考试题目要求计算下列函数的导数并给出完整推导过程作为例题讲解",
    -95L -> "另一个训练文档内容完全原创没有任何基准泄漏问题涉及烹饪菜谱和旅行游记共约五十个字符长度合适")

  /** [[decontaminate]] for unsegmented scripts: a CJK training doc
    * quoting benchmark prose shares ZERO 8-word grams with it (each doc
    * is one `\p{L}` token), so this row overlaps distinct
    * [[DECON_CHAR_GRAM]]-char windows of the routed corpus ∪
    * [[CJK_DECON_DOCS]] instead. CharNGrams squeezes to `\p{L}`
    * internally (the Dedup shingle pattern), with a whole-text fallback
    * below the window width that the oracle's CASE mirrors.
    */
  private def decontaminateChars(s: SparkSession, d: String): DataFrame =
    deconReport(materialized(s, d, "decon_char_grams")(
      ScriptRouting.routed(ScriptRouting.corpus(s, d, CJK_DECON_DOCS))
        .withColumn("grams", array_distinct(
          org.apache.spark.sql.graft.TextColumns.charNGrams(
            lower(nfc(col("text"))), DECON_CHAR_GRAM)))
        .select("doc_id", "grams")))

  private def decontaminateCharsOracle: String =
    deconReportOracle(s"""${ScriptRouting.routedSql(CJK_DECON_DOCS)},
       |g AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN length(sq) >= $DECON_CHAR_GRAM
       |      THEN list_transform(range(length(sq) - ${DECON_CHAR_GRAM - 1}),
       |        i -> substr(sq, i + 1, $DECON_CHAR_GRAM))
       |      ELSE [sq] END) AS grams
       |  FROM routed)""".stripMargin)

  // ---- sequence packing ------------------------------------------------

  private val PACK_BUDGET = 512L // tokens per training sequence
  private val PACK_SHARDS = 16L  // independent packing shards

  /** Concat-and-chunk sequence packing: within each shard, documents are
    * concatenated in doc_id order and cut into [[PACK_BUDGET]]-token
    * sequences; a document belongs to the sequence its first token lands
    * in. Emits per-sequence occupancy (doc count, token count, first
    * doc) — the packing manifest a trainer's data loader consumes.
    *
    * Scale: packing is a running sum, which is inherently sequential —
    * so the parallel unit is the SHARD, exactly as production loaders
    * pack per input shard. Each shard is one window partition whose
    * running sum streams in sorted order; shard count scales with the
    * cluster (here 16, at 100 TB a few thousand), and no shard ever
    * needs global coordination. The one shuffle is the hash exchange on
    * shard — doc_id + one long per row, never text.
    */
  private def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), (col("doc_id") % PACK_SHARDS).as("shard"),
        expr("size(filter(split(text, '\\\\s+'), x -> x <> ''))")
          .cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $PACK_BUDGET"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("shard", "seq_id")
  }

  private def packSequencesOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
       |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tok
       |  FROM documents),
       |cums AS (
       |  SELECT doc_id, shard, n_tok,
       |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM toks)
       |SELECT shard, ((cum - n_tok) // $PACK_BUDGET)::BIGINT AS seq_id,
       |  count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |  min(doc_id) AS first_doc
       |FROM cums GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin

  // ---- sequence packing, script-routed token counts --------------------

  /** Planted docs for the routed-packing row. `-137` and `-121` share
    * shard `-9` (both ≡ −9 mod [[PACK_SHARDS]]; truncated remainder
    * agrees across engines) and carry 555 and 560 letters: under the
    * routed count the shard's running sum crosses [[PACK_BUDGET]]
    * between them, so they pack into TWO sequences — under the
    * whitespace count each is ONE token and they'd collapse into one
    * (the catch TrainingPipelineSpec pins). `-122`/`-123` are
    * fixture-length CJK/hiragana docs in their own shards.
    */
  private[graft] val CJK_PACK_DOCS: Seq[(Long, String)] = Seq(
    -137L -> ("训练语料按照批次切分成固定长度的片段用于模型学习" * 23 + "补两个"),
    -121L -> ("大规模语言模型训练需要海量优质数据每个批次按序列长度切分" * 20),
    -122L -> "短文档只有二十个汉字左右用来验证常规情况",
    -123L -> "むかしむかしあるところにおじいさんがいました")

  /** [[packSequences]] with a SCRIPT-ROUTED token count — the packing
    * consumer's unsegmented story (the same blindness class as the
    * gram family, one consumer over): `pipe_pack`'s whitespace count
    * prices a CJK document at ONE token regardless of length, so a
    * packer budgeting [[PACK_BUDGET]]-token sequences would overfill
    * them by orders of magnitude on unsegmented corpora. Routed by the
    * shared [[ScriptRouting]] class: segmented docs keep the
    * whitespace count; unsegmented docs count `\p{L}` code points of
    * the squeeze (≈1 token/character for CJK under production BPE
    * vocabs — the standard proxy; a tokenizer-exact count is
    * `text_bpe_doc_tokens`' job). The packing pass itself is
    * UNCHANGED — shard-local running sum, cut at the budget — which is
    * the point: routing is a column choice, not a second pipeline.
    *
    * Scale: identical to [[packSequences]] (the one shuffle carries
    * doc_id + two longs, never text) plus one row-local squeeze pass.
    */
  private def packSequencesRouted(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    ScriptRouting.corpus(s, d, CJK_PACK_DOCS)
      .withColumn("sq", ScriptRouting.squeezedLetters(col("text")))
      .select(col("doc_id"), (col("doc_id") % PACK_SHARDS).as("shard"),
        when(ScriptRouting.unsegmented(col("sq")), length(col("sq")))
          .otherwise(
            expr("size(filter(split(text, '\\\\s+'), x -> x <> ''))"))
          .cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $PACK_BUDGET"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("shard", "seq_id")
  }

  private def packSequencesRoutedOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(CJK_PACK_DOCS)},
       |sq AS (
       |  SELECT doc_id, text, ${ScriptRouting.sqSql} AS sq FROM corpus),
       |toks AS (
       |  SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
       |    (CASE WHEN ${ScriptRouting.unsegmentedSql("sq")} THEN length(sq)
       |      ELSE len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
       |      END)::BIGINT AS n_tok
       |  FROM sq),
       |cums AS (
       |  SELECT doc_id, shard, n_tok,
       |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM toks)
       |SELECT shard, ((cum - n_tok) // $PACK_BUDGET)::BIGINT AS seq_id,
       |  count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |  min(doc_id) AS first_doc
       |FROM cums GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin

  // ---- deterministic hashing shared by the sampling operators ----------

  /** Knuth multiplicative hash of doc_id into [0, 1e6) — exact 64-bit
    * integer arithmetic in both engines (max intermediate ~2.7e15, far
    * under Long range), so sampling decisions are reproducible
    * cross-engine and cross-run with no RNG seed to manage. The `salt`
    * decorrelates independent sampling stages.
    */
  private[operators] val HASH_MOD = 1000000L
  private[operators] def hashExpr(salt: Long): String =
    s"((doc_id % 1000003) * 2654435761 + $salt) % $HASH_MOD"

  // ---- stratified sampling ----------------------------------------------

  private val STRAT_CAP = 50 // sampled docs per language

  /** Per-language stratified sample: exactly min(CAP, |stratum|) docs
    * per language, chosen by hash order (uniform without an RNG).
    *
    * Scale: the naive shape — rank every row of a 100 TB stratum
    * through one window partition — sorts a whole stratum on one task.
    * Instead a hash PREFILTER bounds the window's input first: per-
    * stratum counts (a tiny partial-agg, broadcast back) derive a
    * threshold that keeps ~8× the quota in expectation, and only those
    * survivors enter the rank window. The full sort collapses from
    * |stratum| to O(CAP) rows per language; correctness is unaffected
    * because hash order is rank order (rank of the smallest CAP hashes
    * is identical computed over survivors as over the stratum —
    * the prefilter keeps a superset of every possible winner as long as
    * threshold ≥ the CAP-th hash; the 8× margin makes undershoot
    * astronomically unlikely, and the min(CAP, n) contract below is
    * exact for small strata where the threshold saturates at 1e6).
    */
  private def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val h = hashExpr(17L)
    val base = documents(s, d).select(col("doc_id"), col("lang"),
      expr(h).as("h"))
    val counts = base.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("cut",
        least(lit(HASH_MOD), lit(8L * STRAT_CAP) * lit(HASH_MOD) / col("n")))
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    base.join(broadcast(counts), "lang")
      .filter(col("h") < col("cut"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= STRAT_CAP)
      .select("lang", "rk", "doc_id", "h")
      .orderBy("lang", "rk")
  }

  private def stratifiedSampleOracle: String = {
    val h = hashExpr(17L)
    s"""WITH base AS (
       |  SELECT doc_id, lang, $h AS h FROM documents),
       |cnt AS (
       |  SELECT lang, least($HASH_MOD, ${8L * STRAT_CAP} * $HASH_MOD / count(*)) AS cut
       |  FROM base GROUP BY lang),
       |survivors AS (
       |  SELECT base.doc_id, base.lang, base.h FROM base
       |  JOIN cnt ON base.lang = cnt.lang AND base.h < cnt.cut),
       |ranked AS (
       |  SELECT lang, doc_id, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
       |  FROM survivors)
       |SELECT lang, rk, doc_id, h FROM ranked
       |WHERE rk <= $STRAT_CAP ORDER BY lang, rk""".stripMargin
  }

  // ---- weighted source mixing -------------------------------------------

  /** Mixture weights per source tier, in millionths (the four tiers
    * stand in for a per-domain mixture table; at production scale the
    * table is a broadcast dimension keyed by domain).
    */
  private val MIX_TIERS = Seq(250000L, 500000L, 750000L, 1000000L)

  /** One definition shared with the streaming ingest gate
    * (Sources.streamCorpusGate), so the stream and the batch mixing
    * policy can never drift.
    */
  private[operators] val MIX_SALT = 291L
  private[operators] def mixTierSql(srcnum: String): String =
    s"CASE ($srcnum) % 4 " +
      MIX_TIERS.zipWithIndex.map { case (w, i) => s"WHEN $i THEN $w" }
        .mkString(" ") + " END"

  /** Weighted source mixing: keep each document with its source's
    * mixture probability, decided by deterministic hash threshold.
    * Emits the per-source accounting a mixing run publishes: corpus
    * size, kept size, target weight, achieved rate.
    *
    * Scale: one narrow projection + hash filter (no text leaves the
    * scan: column pruning reads doc_id + source only), then a 20-group
    * partial aggregation. The decision is row-local — no shuffle before
    * the final tiny agg — which is what lets a mixing pass run as a
    * side-effect of any other scan at 100 TB.
    */
  private def mixWeighted(s: SparkSession, d: String): DataFrame = {
    val srcnum = "CAST(substr(source, 4) AS BIGINT)"
    val h = hashExpr(MIX_SALT)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        expr(srcnum).as("srcnum"),
        expr(mixTierSql(srcnum)).as("weight_ppm"),
        expr(h).as("h"))
      .groupBy("source", "srcnum", "weight_ppm")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("h") < col("weight_ppm"), 1L).otherwise(0L)).as("n_kept"))
      // exact integer division (`div`), not double `/` then cast: at
      // billions of rows a double quotient can round across an integer
      // boundary the oracle's `//` never crosses
      .withColumn("rate_ppm", expr(s"(n_kept * $HASH_MOD) div n_total"))
      .select("source", "weight_ppm", "n_total", "n_kept", "rate_ppm")
      .orderBy("srcnum")
  }

  private def mixWeightedOracle: String = {
    val srcnum = "CAST(substr(source, 4) AS BIGINT)"
    val h = hashExpr(MIX_SALT)
    s"""WITH base AS (
       |  SELECT doc_id, source, $srcnum AS srcnum,
       |    ${mixTierSql(srcnum)} AS weight_ppm, $h AS h
       |  FROM documents)
       |SELECT source, weight_ppm, count(*)::BIGINT AS n_total,
       |  sum(CASE WHEN h < weight_ppm THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  (sum(CASE WHEN h < weight_ppm THEN 1 ELSE 0 END) * $HASH_MOD // count(*))::BIGINT AS rate_ppm
       |FROM base GROUP BY source, srcnum, weight_ppm ORDER BY srcnum""".stripMargin
  }

  // ---- repetition quality stats (Gopher-style) ---------------------------

  /** Per-document repetition statistics in the style of the Gopher
    * quality rules: the fraction of bigrams occupied by the single most
    * frequent bigram, and the fraction of trigrams that are duplicates
    * of an earlier trigram. High values mark boilerplate / degenerate
    * repetition a pretraining corpus filters out. `units` carries
    * doc_id and the token count column `unit`; `grams(n)` is the n-gram
    * array of a row, read as EMPTY below the window width. The word row
    * passes words, the char row the code points of the routed squeeze.
    *
    * Scale: the trigram duplicate fraction is row-local (two array
    * sizes). The top-bigram count needs a per-(doc, bigram) frequency —
    * explode → partial-count → per-doc max, the same two-exchange shape
    * as word count, keyed on (doc_id, gram) so hot documents spread by
    * gram, not collapse onto one task. Ratios carry 6-dp rounding and
    * zero-guards (NULL, not inf/NaN) per the cross-engine discipline.
    */
  private def repetitionOf(s: SparkSession, d: String, tag: String,
      units: => DataFrame, unit: String, grams: Int => Column): DataFrame = {
    def window(n: Int): Column =
      when(col(unit) >= n, grams(n)).otherwise(array().cast("array<string>"))
    val base = materialized(s, d, tag)(units
      .withColumn("bigrams", window(2))
      .withColumn("trigrams", window(3))
      .select(col("doc_id"), col(unit),
        size(col("bigrams")).cast("long").as("n_bi"),
        size(col("trigrams")).cast("long").as("n_tri"),
        size(array_distinct(col("trigrams"))).cast("long").as("n_tri_d"),
        col("bigrams")))
    val topBi = base
      .select(col("doc_id"), explode(col("bigrams")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bi"))
    base.drop("bigrams")
      .join(topBi, Seq("doc_id"), "left")
      .withColumn("top_bigram_frac",
        round(col("top_bi").cast("double") /
          when(col("n_bi") > 0, col("n_bi")), 6))
      .withColumn("dup_trigram_frac",
        round((col("n_tri") - col("n_tri_d")).cast("double") /
          when(col("n_tri") > 0, col("n_tri")), 6))
      .select("doc_id", unit, "top_bigram_frac", "dup_trigram_frac")
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[repetitionOf]] over a CTE chain ending in `base`
    * (doc_id, `unit`, bigrams, trigrams).
    */
  private def repetitionOracle(base: String, unit: String): String =
    s"""WITH $base,
       |sizes AS (
       |  SELECT doc_id, $unit, len(bigrams)::BIGINT AS n_bi,
       |    len(trigrams)::BIGINT AS n_tri,
       |    len(list_distinct(trigrams))::BIGINT AS n_tri_d
       |  FROM base),
       |bg AS (
       |  SELECT doc_id, unnest(bigrams) AS bg FROM base),
       |topbi AS (
       |  SELECT doc_id, max(c) AS top_bi FROM (
       |    SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
       |  GROUP BY doc_id)
       |SELECT sizes.doc_id, $unit,
       |  round(top_bi::DOUBLE / (CASE WHEN n_bi > 0 THEN n_bi END), 6) AS top_bigram_frac,
       |  round((n_tri - n_tri_d)::DOUBLE / (CASE WHEN n_tri > 0 THEN n_tri END), 6) AS dup_trigram_frac
       |FROM sizes LEFT JOIN topbi ON sizes.doc_id = topbi.doc_id
       |ORDER BY 1""".stripMargin

  private def repetitionStats(s: SparkSession, d: String): DataFrame =
    repetitionOf(s, d, "rep_base",
      withWords(documents(s, d)).withColumn("n_words", expr("size(words)").cast("long")),
      "n_words", wordNGramsU(lower(nfc(col("text"))), _))

  private def repetitionStatsOracle: String =
    repetitionOracle(s"""$wordsCte,
       |base AS (
       |  SELECT doc_id, len(words)::BIGINT AS n_words,
       |    CASE WHEN len(words) >= 2
       |      THEN list_transform(range(len(words)-1),
       |        i -> words[i+1] || ' ' || words[i+2])
       |      ELSE [] END AS bigrams,
       |    CASE WHEN len(words) >= 3
       |      THEN list_transform(range(len(words)-2),
       |        i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])
       |      ELSE [] END AS trigrams
       |  FROM docs)""".stripMargin, "n_words")

  // ---- repetition quality stats, unsegmented scripts ----------------------

  /** Planted docs for the routed repetition row (all `\p{L}`): -61 is
    * degenerate repetition (one 2-char token ×25 — the boilerplate the
    * Gopher rules exist to drop: top bigram ≈ half of all bigrams,
    * every trigram window a duplicate of one of three), -62 is normal
    * prose (low fractions), -63 is half boilerplate (an 4-char ad
    * slogan ×8 before short real content).
    */
  private[graft] val CJK_REP_DOCS: Seq[(Long, String)] = Seq(
    -61L -> ("去重" * 25),
    -62L -> "自然流畅的中文散文内容每个字符各不相同避免重复以便统计基线保持低位数值水平测试用例设计完成",
    -63L -> (("滚动广告" * 8) + "正文只有这一点点"))

  /** [[repetitionStats]] for unsegmented scripts over CHAR 2/3-grams of
    * the routed corpus ∪ [[CJK_REP_DOCS]] squeeze: a CJK doc has at most
    * ONE `\p{L}` word, so its word-gram arrays are empty and the word
    * row reports NULL fractions for the most boilerplate-prone pattern
    * in unsegmented text, n-char loops.
    */
  private def repetitionChars(s: SparkSession, d: String): DataFrame =
    repetitionOf(s, d, "rep_char_base",
      ScriptRouting.routed(ScriptRouting.corpus(s, d, CJK_REP_DOCS))
        .withColumn("n_letters", length(col("sq")).cast("long")),
      "n_letters", org.apache.spark.sql.graft.TextColumns.charNGrams(col("sq"), _))

  private def repetitionCharsOracle: String =
    repetitionOracle(s"""${ScriptRouting.routedSql(CJK_REP_DOCS)},
       |base AS (
       |  SELECT doc_id, length(sq)::BIGINT AS n_letters,
       |    CASE WHEN length(sq) >= 2
       |      THEN list_transform(range(length(sq) - 1), i -> substr(sq, i + 1, 2))
       |      ELSE [] END AS bigrams,
       |    CASE WHEN length(sq) >= 3
       |      THEN list_transform(range(length(sq) - 2), i -> substr(sq, i + 1, 3))
       |      ELSE [] END AS trigrams
       |  FROM routed)""".stripMargin, "n_letters")

  // ---- semantic dedup (SemDeDup-style) -----------------------------------

  // 6 bits / tau 0.3 fit the FIXTURE's cosine geometry (max pairwise
  // cosine at sf0.01 is 0.51; similarity mass sits at 0.25-0.4): the
  // contract instance must prune a non-degenerate set at every test
  // scale. At production scale widen SEM_BITS with log2(n) and raise
  // tau to the embedding model's "same content" operating point.
  private val SEM_BITS = 6   // sign-LSH bucket width
  private val SEM_TAU = 0.3  // cosine threshold for "semantically same"

  /** Sign-LSH bucket over the first [[SEM_BITS]] dimensions, as an
    * integer code (Spark side, 0-based arrays).
    */
  private def semBucketExpr: String =
    (0 until SEM_BITS)
      .map(j => s"CASE WHEN embedding[$j] >= 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")

  private def semBucketSql: String =
    (0 until SEM_BITS)
      .map(j => s"CASE WHEN embedding[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")

  /** SemDeDup-style semantic pruning: bucket embeddings by sign-LSH,
    * keep the lowest-id vector per bucket as the representative, and
    * drop every bucket-mate whose cosine to the representative clears
    * [[SEM_TAU]]. Emits the drop list (vec_id, keeper, sim) — the
    * manifest a pruning pass applies as an anti-join.
    *
    * Scale: one partial-aggregated min per bucket (min over a struct
    * led by vec_id — combines map-side, so a boilerplate-heavy bucket
    * never funnels through one task), then the members re-join the
    * 2^SEM_BITS keepers BY BROADCAST — the keeper table is bounded by
    * the code space, not the corpus. Cosine runs in the codegen'd
    * [[vecDot]]; candidates are priced in CPU inside the join, never
    * shuffled (the verify-inline discipline from nearDupPairs). Widen
    * SEM_BITS with log2(n) to hold per-bucket population flat at scale,
    * exactly as the nearDupPairs `bits` ladder does.
    */
  private def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val b = embeddings(s, d)
      .withColumn("nrm", vecNorm(col("embedding")))
      .withColumn("bucket", expr(semBucketExpr))
    val keepers = b.groupBy("bucket")
      .agg(min(struct(col("vec_id"), col("embedding"), col("nrm"))).as("k"))
      .select(col("bucket"), col("k.vec_id").as("keeper"),
        col("k.embedding").as("ke"), col("k.nrm").as("kn"))
    val sim = round(vecDot(col("embedding"), col("ke")) /
      (col("nrm") * col("kn")), 6)
    b.join(broadcast(keepers), "bucket")
      .withColumn("sim", sim)
      .filter(col("vec_id") =!= col("keeper") && col("sim") >= SEM_TAU)
      .select("vec_id", "keeper", "sim")
      .orderBy("vec_id")
  }

  private def semanticDedupOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
       |         list_transform(embedding, x -> x::DOUBLE))) AS nrm,
       |    $semBucketSql AS bucket
       |  FROM embeddings),
       |k AS (
       |  SELECT bucket, min(vec_id) AS keeper FROM e GROUP BY bucket),
       |kk AS (
       |  SELECT k.bucket, k.keeper, e.embedding AS ke, e.nrm AS kn
       |  FROM k JOIN e ON e.vec_id = k.keeper),
       |scored AS (
       |  SELECT e.vec_id, kk.keeper,
       |    round(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
       |      list_transform(kk.ke, x -> x::DOUBLE)) / (e.nrm * kk.kn), 6) AS sim
       |  FROM e JOIN kk ON e.bucket = kk.bucket AND e.vec_id <> kk.keeper)
       |SELECT vec_id, keeper, sim FROM scored
       |WHERE sim >= $SEM_TAU ORDER BY vec_id""".stripMargin

  // ---- deterministic train/val/test split --------------------------------

  private val SPLIT_SALT = 53L
  /** Hash-range boundaries in millionths: [0, 800k) train,
    * [800k, 900k) val, rest test — the conventional 80/10/10.
    */
  private val SPLIT_VAL = 800000L
  private val SPLIT_TEST = 900000L

  private def splitCaseSql(h: String): String =
    s"CASE WHEN ($h) < $SPLIT_VAL THEN 'train' " +
      s"WHEN ($h) < $SPLIT_TEST THEN 'val' ELSE 'test' END"

  /** Deterministic train/val/test assignment: each document lands in
    * exactly one split by hash range — no RNG seed, no shuffle of the
    * assignment itself, stable under re-runs and corpus growth (a doc's
    * split never changes when neighbors are added or removed, which is
    * what keeps eval sets honest across corpus versions). Emits the
    * audit a split publishes: per (split, lang) doc/char counts plus
    * each cell's share of its language in ppm, so disjointness and
    * coverage are checked cell-by-cell against the language totals
    * (`lang_total` is a window sum over the same tiny aggregate).
    *
    * Scale: the decision is row-local (column-pruned scan of
    * doc_id/lang/n_chars); the only exchange is the O(splits × langs)
    * final aggregation. The window runs over ≤ 3×|langs| rows.
    */
  private def splitAssign(s: SparkSession, d: String): DataFrame = {
    val h = hashExpr(SPLIT_SALT)
    val cell = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr(splitCaseSql(h)).as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_sum"))
    val wl = Window.partitionBy("lang")
    cell
      .withColumn("lang_total", sum("n_docs").over(wl))
      .withColumn("share_ppm", expr(s"(n_docs * $HASH_MOD) div lang_total"))
      .select("split", "lang", "n_docs", "n_chars_sum", "lang_total",
        "share_ppm")
      .orderBy("split", "lang")
  }

  private def splitAssignOracle: String = {
    val h = hashExpr(SPLIT_SALT)
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars, ${splitCaseSql(h)} AS split
       |  FROM documents),
       |cell AS (
       |  SELECT split, lang, count(*)::BIGINT AS n_docs,
       |    sum(n_chars)::BIGINT AS n_chars_sum
       |  FROM base GROUP BY split, lang)
       |SELECT split, lang, n_docs, n_chars_sum,
       |  sum(n_docs) OVER (PARTITION BY lang)::BIGINT AS lang_total,
       |  (n_docs * $HASH_MOD // sum(n_docs) OVER (PARTITION BY lang))::BIGINT
       |    AS share_ppm
       |FROM cell ORDER BY split, lang""".stripMargin
  }

  // ---- per-source cap (domain rate limiting) ------------------------------

  /** Per-source keep quota. 60 binds at sf0.1 (250 docs/source) and
    * saturates at sf0.01 (25/source) — the contract exercises both the
    * binding and the keep-everything arm across gate scales.
    */
  private val CAP_PER_SOURCE = 60

  /** Per-domain rate cap: keep at most [[CAP_PER_SOURCE]] documents per
    * source, preferring longer documents (`n_chars` DESC, doc_id as the
    * deterministic tiebreak) — the C4/RefinedWeb-style guard that stops
    * a single boilerplate-heavy domain from flooding the corpus.
    *
    * Scale: rank-per-group with `row_number() <= k` is exactly the
    * shape Spark's InferWindowGroupLimit rewrites into a per-PARTITION
    * group limit on BOTH sides of the exchange (WindowGroupLimit
    * Partial before the shuffle, Final after): every map task forwards
    * at most k rows per source, so the exchange carries
    * O(partitions × k × |sources|), never the corpus. The text column
    * is pruned from the scan — only (doc_id, source, n_chars) move.
    */
  private def domainCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= CAP_PER_SOURCE)
      .select("source", "rk", "doc_id", "n_chars")
      .orderBy("source", "rk")
  }

  private def domainCapOracle: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER
       |      (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |SELECT source, rk, doc_id, n_chars FROM ranked
       |WHERE rk <= $CAP_PER_SOURCE ORDER BY source, rk""".stripMargin

  // ---- registry ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_decontaminate"  -> decontaminate _,
    "pipe_decontaminate_cut" -> decontaminateCut _,
    "pipe_decontaminate_chars" -> decontaminateChars _,
    "pipe_pack"           -> packSequences _,
    "pipe_pack_routed"    -> packSequencesRouted _,
    "pipe_sample_strat"   -> stratifiedSample _,
    "pipe_mix_weighted"   -> mixWeighted _,
    "pipe_repetition"     -> repetitionStats _,
    "pipe_repetition_chars" -> repetitionChars _,
    "pipe_semantic_dedup" -> semanticDedup _,
    "pipe_split"          -> splitAssign _,
    "pipe_domain_cap"     -> domainCap _,
  )

  val oracles: Map[String, String] = Map(
    "pipe_decontaminate"  -> decontaminateOracle,
    "pipe_decontaminate_cut" -> decontaminateCutOracle,
    "pipe_decontaminate_chars" -> decontaminateCharsOracle,
    "pipe_pack"           -> packSequencesOracle,
    "pipe_pack_routed"    -> packSequencesRoutedOracle,
    "pipe_sample_strat"   -> stratifiedSampleOracle,
    "pipe_mix_weighted"   -> mixWeightedOracle,
    "pipe_repetition"     -> repetitionStatsOracle,
    "pipe_repetition_chars" -> repetitionCharsOracle,
    "pipe_semantic_dedup" -> semanticDedupOracle,
    "pipe_split"          -> splitAssignOracle,
    "pipe_domain_cap"     -> domainCapOracle,
  )
}
