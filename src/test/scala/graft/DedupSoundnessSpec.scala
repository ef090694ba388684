package graft

import org.apache.spark.sql.functions._

/** Planted-duplicate soundness of the dedup family, end to end through
  * the PRODUCTION queries on a synthetic corpus (not expression copies
  * — the exact `Dedup.queries` entries the driver runs). The DuckDB
  * oracle proves Spark and DuckDB agree on the fixture corpus; this
  * proves the shared semantics are the RIGHT ones: engineered
  * duplicates come out as pairs, engineered near-duplicates survive
  * the LSH/banding paths, and an unrelated document pairs with
  * nothing. All inputs are fixed strings, so every assertion is
  * deterministic run to run.
  */
class DedupSoundnessSpec extends SparkSpec {

  // 40 distinct lowercase words; tokenizers split on [^a-z]+
  private def words(seed: String): Seq[String] =
    (0 until 40).map(i => s"$seed${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  private val docA = words("qu").mkString(" ")            // 1 and 2: identical
  private val nearB = {                                    // 3 and 4: one word
    val w = words("zx"); (w.mkString(" "), w.updated(20, "changed").mkString(" "))
  }
  private val loner = (0 until 40).map(i => s"lone$i").mkString(" ")

  private lazy val corpusDir: String = {
    val dir = TestScratch.dir("graft_dedup_sound_")
    val rows = Seq(
      (1L, docA), (2L, docA), (3L, nearB._1), (4L, nearB._2), (5L, loner))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  private def pairs(q: String): Map[(Long, Long), Double] =
    operators.Dedup.queries(q)(spark, corpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2).toString.toDouble)
      .toMap

  test("exact dedup groups the identical pair under one keeper") {
    val groups = operators.Dedup.queries("dedup_exact")(spark, corpusDir)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap // keeper -> n
    assert(groups(1L) == 2L, "identical docs 1,2 must share one group")
    assert(Seq(3L, 4L, 5L).forall(groups(_) == 1L))
  }

  test("minhash LSH reports the identical pair at est_jaccard 1 and " +
      "keeps the one-word near-dup above threshold") {
    val p = pairs("dedup_minhash_pairs")
    assert(p.get((1L, 2L)).contains(1.0),
      s"identical docs must collide in every band with every minhash equal: $p")
    assert(p.contains((3L, 4L)),
      s"one-word-in-40 near-dup lost by LSH banding or the 0.5 cut: $p")
    assert(p((3L, 4L)) >= 0.5 && p((3L, 4L)) < 1.0)
    assert(!p.keySet.exists(k => k._1 == 5L || k._2 == 5L),
      s"the unrelated doc must pair with nothing: $p")
  }

  test("simhash banding reports the identical pair at hamming 0 and " +
      "the near-dup within the 8-bit cut") {
    val p = pairs("dedup_simhash_pairs")
    assert(p.get((1L, 2L)).contains(0.0),
      s"identical docs have identical simhashes, so hamming must be 0: $p")
    assert(p.contains((3L, 4L)) && p((3L, 4L)) <= 8.0,
      s"one flipped word moves few majority votes — pair must survive: $p")
    assert(!p.keySet.exists(k => k._1 == 5L || k._2 == 5L),
      s"the unrelated doc must pair with nothing: $p")
  }

  test("dedup_exact_fold collapses the planted NFC/NFD + case variants " +
      "to one keeper each while raw dedup_exact keeps every spelling, " +
      "and the lower-fold deliberately keeps Strasse/STRASSE distinct") {
    // the PRODUCTION query: synthetic corpus + the LATIN_FOLD_DOCS it
    // plants itself. keeper -> n_dups
    val folded = operators.Dedup.queries("dedup_exact_fold")(spark, corpusDir)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    // four spellings of "café crème" (NFC/NFD × case) -> ONE group
    assert(folded(-14L) == 4L,
      s"cafe variants must share one normalized key: $folded")
    // two spellings of "über müller" (NFC/NFD umlauts) -> ONE group
    assert(folded(-16L) == 2L, s"umlaut variants must collapse: $folded")
    // lower() is NOT full case folding: the sharp-s pair stays split —
    // the engines AGREE on this, which is why it can sit on the contract
    assert(folded(-17L) == 1L && folded(-18L) == 1L,
      s"Straße/STRASSE must stay distinct under the lower fold: $folded")
    // the synthetic identical pair still collapses (fold ⊇ identity)
    assert(folded(1L) == 2L)
    // raw byte-identity sees every planted spelling as distinct: the
    // raw-key path groups the same 9 docs into 9 singleton keys
    import spark.implicits._
    val rawKeys = operators.TextAnalysis.LATIN_FOLD_DOCS
      .toDF("doc_id", "text")
      .select(md5(col("text")).as("h")).distinct().count()
    assert(rawKeys == operators.TextAnalysis.LATIN_FOLD_DOCS.size.toLong,
      "raw md5(text) must see one key per planted spelling")
  }

  test("the casefold(nfc) digest twin is the full fold: sharp-s joins " +
      "STRASSE and every sigma spelling lands on one key — the variant " +
      "kept OFF the contract because DuckDB ships no fold") {
    import spark.implicits._
    // \u escapes per the planting discipline: the bytes ARE the test
    val greekUpper = "\u039f\u0394\u039f\u03a3" // capital ODOS
    val greekLower = "\u03bf\u03b4\u03bf\u03c2" // final sigma
    val greekMixed = "\u039f\u0394\u039f\u03c2" // capital + final sigma
    val df = (operators.TextAnalysis.LATIN_FOLD_DOCS ++ Seq(
      -21L -> greekUpper, -22L -> greekLower, -23L -> greekMixed))
      .toDF("doc_id", "text")
    val full = operators.Dedup.exactGroupsCasefoldOf(df)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    // everything the lower-fold merges still merges...
    assert(full(-14L) == 4L && full(-16L) == 2L)
    // ...plus the two folds lower() cannot do: ß→ss and sigma stability
    assert(full(-18L) == 2L,
      s"casefold must merge Straße with STRASSE: $full")
    assert(full(-23L) == 3L,
      s"all three sigma spellings must share one folded key: $full")
  }

  // ---- normalized near-dup front-end (round 15) -----------------------

  // Title-case / NFD near-dup variants: under the OLD raw-text shingle
  // base these shared ZERO shingles ([a-z] runs make uppercase letters
  // DELIMITERS, and NFD accents split words where NFC ones end them);
  // the normalized lower(nfc) front-end must catch both.
  private val ndBase = words("th").mkString(" ")
  private val ndTitle = // capitalized + one word changed: near, not exact
    words("th").updated(20, "changed").map(_.capitalize).mkString(" ")
  private val accWords = (0 until 40).map(i =>
    s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}\u00e9x") // NFC e-acute inside
  private val ndNfc = accWords.mkString(" ")
  // the changed word sits at the END (1 differing 3-gram shingle, not
  // 3): with the \p{L} scanner the accented words are WHOLE tokens, so
  // the pair's shingle sets are larger-overlap than the round-15 ASCII
  // fragmentation gave \u2014 a mid-document change left the deterministic
  // banding draw just outside 4x4-LSH recall at j~0.85
  private val ndNfd = accWords.updated(39, "changed")
    .map(_.replace("\u00e9", "e\u0301")).mkString(" ") // NFD spelling

  private lazy val foldCorpusDir: String = {
    val dir = TestScratch.dir("graft_dedup_fold_")
    import spark.implicits._
    Seq((10L, ndBase), (11L, ndTitle), (12L, ndNfc), (13L, ndNfd),
        (14L, loner))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("raw-text shingling provably misses the capitalized and NFD " +
      "near-dup variants (zero shared shingles) — the defect the " +
      "normalized front-end exists to fix") {
    import spark.implicits._
    val rawShingles = Seq((10L, ndBase), (11L, ndTitle), (12L, ndNfc),
        (13L, ndNfd)).toDF("doc_id", "text")
      .select(col("doc_id"), array_distinct(
        org.apache.spark.sql.graft.TextColumns.wordNGrams(col("text"), 3))
        .as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(rawShingles(10L).intersect(rawShingles(11L)).isEmpty,
      "title-cased copy must share zero RAW shingles with its original")
    assert(rawShingles(12L).intersect(rawShingles(13L)).isEmpty,
      "NFD copy must share zero RAW shingles with its NFC original")
  }

  test("the normalized front-end catches both planted variant pairs " +
      "through the production minhash/simhash queries") {
    val mh = operators.Dedup.queries("dedup_minhash_pairs")(spark, foldCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(mh.get((10L, 11L)).exists(_ >= 0.5),
      s"capitalized near-dup must survive LSH + the 0.5 cut: $mh")
    assert(mh.get((12L, 13L)).exists(_ >= 0.5),
      s"NFD near-dup must survive LSH + the 0.5 cut: $mh")
    assert(!mh.keySet.exists(k => k._1 == 14L || k._2 == 14L),
      s"the unrelated doc must pair with nothing: $mh")
    val sh = operators.Dedup.queries("dedup_simhash_pairs")(spark, foldCorpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2).toString.toDouble)
      .toMap
    assert(sh.get((10L, 11L)).exists(_ <= 8.0),
      s"capitalized near-dup must land within the simhash 8-bit cut: $sh")
    assert(sh.get((12L, 13L)).exists(_ <= 8.0),
      s"NFD near-dup must land within the simhash 8-bit cut: $sh")
  }

  // ---- non-Latin near-dup front-end (round 16) --------------------------

  // Greek corpus: a 40-word doc, a one-word-changed near-dup, and an
  // UNRELATED 40-word Greek doc. Under the old ASCII [a-z] scanner all
  // three tokenize to ZERO words (every shingle set degenerates to the
  // single fallback ""), so the near-dup pair and the unrelated doc are
  // INDISTINGUISHABLE — the same silent-recall bug class rounds 14-15
  // fixed for case/NFD variants, one script class wider.
  private def greekWords(prefix: String): Seq[String] =
    (0 until 40).map(i =>
      s"$prefix${('α' + i / 24).toChar}${('α' + i % 24).toChar}")

  private val grBase = greekWords("λεξ").mkString(" ")
  private val grNear =
    greekWords("λεξ").updated(20, "άλλο")
      .mkString(" ")
  private val grOther = greekWords("μον").mkString(" ")

  private lazy val greekCorpusDir: String = {
    val dir = TestScratch.dir("graft_dedup_greek_")
    import spark.implicits._
    Seq((20L, grBase), (21L, grNear), (22L, grOther), (23L, loner))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("el").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("the ASCII scanner is provably BLIND on Greek text: zero " +
      "informative shingles, so near-dups and unrelated docs are " +
      "indistinguishable — the defect the \\p{L} scanner fixes") {
    import spark.implicits._
    val asciiShingles = Seq((20L, grBase), (21L, grNear), (22L, grOther))
      .toDF("doc_id", "text")
      .select(col("doc_id"), array_distinct(
        org.apache.spark.sql.graft.TextColumns.wordNGrams(
          lower(org.apache.spark.sql.graft.TextColumns.nfc(col("text"))), 3))
        .as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // every Greek doc degenerates to the single fallback "" shingle:
    // not just "the pair is missed" — the unrelated doc would bucket
    // IDENTICALLY to the near-dup pair (false positives AND false
    // negatives at once)
    assert(asciiShingles.values.forall(_ == Set("")),
      s"ASCII scanner must see zero letters in Greek text: $asciiShingles")
  }

  test("the \\p{L} front-end separates the planted Greek corpus: the " +
      "near-dup pair survives minhash/simhash, the unrelated Greek doc " +
      "pairs with nothing") {
    val mh = operators.Dedup.queries("dedup_minhash_pairs")(spark, greekCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(mh.get((20L, 21L)).exists(j => j >= 0.5 && j < 1.0),
      s"one-word-in-40 Greek near-dup must survive LSH + the 0.5 cut: $mh")
    assert(!mh.keySet.exists(k => k._1 == 22L || k._2 == 22L),
      s"the unrelated Greek doc must pair with nothing: $mh")
    assert(!mh.keySet.exists(k => k._1 == 23L || k._2 == 23L),
      s"the ASCII loner must pair with nothing: $mh")
    val sh = operators.Dedup.queries("dedup_simhash_pairs")(spark, greekCorpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2).toString.toDouble)
      .toMap
    assert(sh.get((20L, 21L)).exists(_ <= 8.0),
      s"Greek near-dup must land within the simhash 8-bit cut: $sh")
    assert(!sh.keySet.exists(k => k._1 == 22L || k._2 == 22L),
      s"the unrelated Greek doc must pair with nothing in simhash: $sh")
  }

  // ---- char-gram base for unsegmented scripts (round 16) ----------------

  test("WORD shingles are structurally blind on unsegmented CJK — the " +
      "near-dup pair shares zero word-shingles (each doc is one " +
      "letter run) — while the char-gram pipeline separates the corpus") {
    import spark.implicits._
    // blindness pin: under the \p{L} WORD scanner every planted CJK doc
    // is a single 40-character token, so its only 3-word shingle is the
    // whole-text fallback, and the near-dup pair intersects EMPTY
    val wordShingles = operators.Dedup.CJK_NEARDUP_DOCS
      .toDF("doc_id", "text")
      .select(col("doc_id"), array_distinct(
        org.apache.spark.sql.graft.TextColumns.wordNGramsU(
          lower(org.apache.spark.sql.graft.TextColumns.nfc(col("text"))), 3))
        .as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(wordShingles.values.forall(_.size == 1),
      s"a CJK doc must degenerate to ONE whole-text word-shingle: $wordShingles")
    assert(wordShingles(-41L).intersect(wordShingles(-42L)).isEmpty,
      "the CJK near-dup pair must share zero WORD shingles - the " +
        "blindness the char-gram base exists to fix")
    // the catch: the production char-gram query (which plants the same
    // docs itself) pairs the near-dups and excludes the unrelated doc
    val p = operators.Dedup.queries("dedup_chargram_pairs")(spark, corpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p.get((-42L, -41L)).exists(j => j >= 0.5 && j < 1.0),
      s"one-char-in-53 CJK near-dup must survive char-gram LSH: $p")
    assert(p.get((-45L, -44L)).contains(1.0),
      s"the identical CJK pair must collide in every band at 1.0: $p")
    // at K=16 a ~0.97-true-Jaccard pair can ESTIMATE exactly 1.0 (all
    // 16 mins land in the shared gram set — deterministic for these
    // fixed strings, and what the 64-letter pair does); the identical
    // pair above is the exact-1.0 pin, so here only survival is pinned
    assert(p.get((-47L, -46L)).exists(j => j >= 0.5),
      s"the Japanese near-dup pair must survive char-gram LSH: $p")
    assert(!p.keySet.exists(k => k._1 == -43L || k._2 == -43L),
      s"the unrelated CJK doc must pair with nothing: $p")
    // the script ROUTING: segmented (ASCII-majority) docs never enter
    // the char base — the identical ASCII pair is the word/exact
    // families' job, and unrouted char grams over segmented text
    // over-pair ~1,700x (the measured blowup in SCALE.md)
    assert(p.keySet.forall { case (a, b) => a < 0 && b < 0 },
      s"segmented docs must be routed OUT of the char-gram base: $p")
  }

  // ---- routed-union cluster/removal path (round 17) ----------------------

  test("BEFORE/AFTER the char-edge union: word-only CC could never link " +
      "the planted CJK near-dups (zero shared word shingles — pinned " +
      "above), and the routed dedup_cc now clusters all three pairs " +
      "while keeping the word-base clusters intact") {
    val cc = operators.Dedup.queries("dedup_cc")(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // word-base clusters on the synthetic latin corpus are untouched by
    // the union: identical pair 1,2 under keeper 1; near-dup 3,4 under
    // 3; the loner alone
    assert(Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
      .forall { case (d, l) => cc(d) == l },
      s"latin word-base clusters must be unchanged by the union: $cc")
    // the char-base edges now reach the cluster path: every planted CJK
    // pair collapses onto its min-id keeper, the unrelated CJK doc is
    // its own cluster (the round-16 verdict gap: these pairs were FOUND
    // by dedup_chargram_pairs but never clustered)
    assert(Seq(-41L -> -42L, -42L -> -42L, -43L -> -43L, -44L -> -45L,
      -45L -> -45L, -46L -> -47L, -47L -> -47L)
      .forall { case (d, l) => cc(d) == l },
      s"planted CJK near-dups must cluster via the char-base edges: $cc")
  }

  test("the composed pipeline REMOVES the clustered CJK non-keepers: " +
      "text_pipeline_dedup's routed unit gate admits the unsegmented " +
      "plants and the keeper filter drops exactly the dominated ones") {
    val rows = operators.TextAnalysis.queries("text_pipeline_dedup")(
      spark, corpusDir).collect()
    val xx = rows.filter(_.getString(0) == "xx")
    assert(xx.length == 1, s"the planted lang must survive the gate: ${rows.toSeq}")
    // 7 planted docs, 3 dominated non-keepers (-41, -44, -46) removed:
    // 4 kept, and total units = the four keepers' letter counts
    assert(xx(0).getLong(1) == 4L,
      s"exactly the 4 cluster keepers must survive: ${xx(0)}")
    val expectedUnits = operators.Dedup.CJK_NEARDUP_DOCS.toMap
    val keeperUnits = Seq(-42L, -43L, -45L, -47L)
      .map(id => expectedUnits(id).codePointCount(0, expectedUnits(id).length).toLong)
      .sum
    assert(xx(0).getLong(2) == keeperUnits,
      s"total_words for xx must be the keepers' letter counts ($keeperUnits): ${xx(0)}")
    // the latin gate is unchanged: every synthetic doc has 40 ASCII
    // words < 50, so no real row appears — the unit routing cannot
    // leak unsegmented units into latin docs
    assert(rows.length == 1, s"40-word latin docs must stay gated out: ${rows.toSeq}")
  }

  // ---- connected-components clusters ----------------------------------

  test("dedup_cc labels are canonical component minima") {
    val cc = operators.Dedup.queries("dedup_cc")(spark, sfDir).cache()
    // finally, not in-body: suites share one session JVM, and a failed
    // assert must not leave this cached frame pinned for later suites
    try {
      // labels never exceed the member id (min-propagation invariant)
      assert(cc.filter(col("cluster_id") > col("doc_id")).count() == 0)
      // every label is itself a doc whose own label is itself (a root)
      val roots = cc.filter(col("cluster_id") === col("doc_id"))
        .select(col("doc_id").as("cluster_id"))
      val dangling = cc.select("cluster_id").distinct()
        .join(roots, Seq("cluster_id"), "left_anti")
      assert(dangling.count() == 0)
      // near-dup pairs (est_jaccard >= 0.5) land in the same cluster
      val pairs = operators.Dedup.queries("dedup_minhash_pairs")(spark, sfDir)
      val ca = cc.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "la")
      val cb = cc.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "lb")
      val split = pairs.join(ca, "doc_a").join(cb, "doc_b")
        .filter(col("la") =!= col("lb"))
      assert(split.count() == 0)
    } finally { cc.unpersist(); () }
  }

  // ---- PageRank over the near-dup graph -------------------------------
  // the planted corpus plus a third copy of docA: 1, 2, 6 form a 3-clique,
  // 3 and 4 a near-dup 2-clique, 5 is the loner
  private lazy val pagerankCorpusDir: String = {
    val dir = TestScratch.dir("graft_pagerank_")
    val rows = Seq(
      (1L, docA), (2L, docA), (3L, nearB._1), (4L, nearB._2), (5L, loner),
      (6L, docA))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  /** The exact integer recurrence graph_pagerank contracts to, run
    * locally over an explicit edge list — an independent reference
    * implementation, not a plan copy.
    */
  private def localPagerank(nodes: Seq[Long], pairs: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = edges
        .map { case (src, dst) => dst -> rank(src) / deg(src) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      rank = nodes.map(n => n -> (150000L + inflow.getOrElse(n, 0L) * 85 / 100)).toMap
    }
    rank
  }

  test("pagerank: cliques sit at the exact integer fixed point, the " +
      "loner at the teleport floor, and the whole table matches a " +
      "local reference over the verified pair graph") {
    val got = operators.Dedup.queries("graph_pagerank")(spark, pagerankCorpusDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3-clique {1,2,6}: deg 2, inflow = 2*(r/2) = r exactly -> fixed at
    // the initial mass; 2-clique {3,4}: deg 1, same argument
    for (id <- Seq(1L, 2L, 3L, 4L, 6L))
      assert(got(id) == 1000000L, s"clique member $id drifted: $got")
    // isolated node: zero inflow every round -> 150000 after round 1
    assert(got(5L) == 150000L, s"loner must sit at the teleport floor: $got")
    // full-table agreement with the independent local recurrence over
    // the ACTUAL verified pair list
    val pairs = operators.Dedup.queries("dedup_minhash_pairs")(spark, pagerankCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ref = localPagerank((1L to 6L).toSeq, pairs, 8)
    assert(got == ref, s"distributed != local reference\n got=$got\n ref=$ref")
  }
}
