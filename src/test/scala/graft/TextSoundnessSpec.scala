package graft

import org.apache.spark.sql.functions._

/** Planted-PII soundness of the scrub pass, end to end through the
  * PRODUCTION query: the oracle proves Spark and DuckDB agree on the
  * fixture corpus; this proves the agreed semantics redact what a
  * training-data pipeline needs redacted — the expected counts AND the
  * exact post-scrub digest (computed independently in the test) on
  * engineered rows, including the overlap case where an email's domain
  * swallows a trailing digit run.
  */
class TextSoundnessSpec extends SparkSpec {

  private val docs = Seq(
    (1L, "write to john.doe@example.com or ring 12345678 thanks"),
    // two emails; a 5-digit run is BELOW the {6,} cut and must survive
    (2L, "a@b.c and x_1-2@mail.org meet at 12345 not 999999"),
    // the email regex's domain class [a-z0-9.-]+ swallows trailing
    // digits, so no separate digit run remains here
    (3L, "stream dump foo@bar.com123456789 end"),
    (4L, "nothing sensitive here at all"))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private lazy val corpusDir: String = {
    val dir = TestScratch.dir("graft_text_sound_")
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("pii scrub counts and redacts exactly the planted entities") {
    val got = operators.TextAnalysis.queries("text_pii_scrub")(spark, corpusDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((1L, 1L,
      md5hex("write to <EMAIL> or ring <NUM> thanks"))))
    assert(got(2L) == ((2L, 1L,
      md5hex("<EMAIL> and <EMAIL> meet at 12345 not <NUM>"))),
      s"doc 2 mismatch: ${got(2L)}")
    assert(got(3L) == ((1L, 0L, md5hex("stream dump <EMAIL> end"))))
    assert(got(4L) == ((0L, 0L, md5hex("nothing sensitive here at all"))))
  }

  test("langid assigns the planted stopword-obvious languages and " +
      "falls back to en on an all-zero profile") {
    val dir = TestScratch.dir("graft_lang_sound_")
    import spark.implicits._
    Seq(
      (1L, "the cat and the dog is in the house of wonder"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "le chat et la vache est les des amis"),
      (4L, "el perro y los gatos es de la casa"),
      (5L, "zzz qqq www nothing matches any profile"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("xx").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.TextAnalysis.queries("text_langid")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "en"), s"got $got")
  }

  test("quality scoring ranks a substantial natural doc above a " +
      "word-starved one and NULLs out a wordless doc") {
    val dir = TestScratch.dir("graft_qual_sound_")
    import spark.implicits._
    val rich = (0 until 100).map(i => s"meaningful${('a' + i % 26).toChar}")
      .mkString(" ")
    Seq((1L, rich), (2L, "tiny doc of note"), (3L, "@#$% ^&*! 1234"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = operators.TextAnalysis.queries("text_quality")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r).toMap
    val (q1, q2) = (rows(1L).getDouble(5), rows(2L).getDouble(5))
    assert(q1 > q2, s"substantial doc must outscore the word-starved one: $q1 <= $q2")
    // no [a-z] words at all -> guarded NULL ratios and score, the
    // documented cross-engine-stable divide-by-zero contract
    assert(rows(3L).isNullAt(3) && rows(3L).isNullAt(5),
      "wordless doc must yield NULL ratios and score")
  }

  test("lm familiarity scores duplicated prose above a rare-bigram doc " +
      "and NULLs the bigram-free docs, with exact integer accounting") {
    import spark.implicits._
    // docs 1/2 share every bigram (model count 2 each); doc 3's two
    // bigrams are singletons; doc 4 has one word (word_ngrams' fallback
    // emits a space-free element the filter must drop); doc 5 wordless
    val planted = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "zq zx qv"),
      (4L, "lonely"),
      (5L, "1234 %$#@"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val rows = operators.TextAnalysis.lmScoreOf(planted)
      .collect().map(r => r.getLong(0) -> r).toMap
    // 5 bigrams each, every one with model count 2 -> fam_sum 10
    for (d <- Seq(1L, 2L)) {
      assert(rows(d).getLong(2) == 5L && rows(d).getLong(3) == 10L &&
        rows(d).getDouble(4) == 2.0, s"doc $d: ${rows(d)}")
    }
    assert(rows(3L).getLong(2) == 2L && rows(3L).getDouble(4) == 1.0,
      s"rare-bigram doc must score the singleton floor: ${rows(3L)}")
    assert(rows(1L).getDouble(4) > rows(3L).getDouble(4),
      "duplicated prose must outscore the rare-bigram doc")
    for (d <- Seq(4L, 5L)) {
      assert(rows(d).getLong(2) == 0L && rows(d).getLong(3) == 0L &&
        rows(d).isNullAt(4),
        s"bigram-free doc $d must carry 0 counts and NULL familiarity: ${rows(d)}")
    }
  }

  // ---- unsegmented-script language/quality tiers (round 17) ------------

  test("script-mass langid catches what the stopword profile is blind " +
      "to: text_langid calls every CJK doc 'en' (zero stopword hits, " +
      "tie-break), text_langid_script assigns zh/ja/ko — including " +
      "kanji-majority Japanese via kana presence") {
    val dir = TestScratch.dir("graft_script_sound_")
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat and the dog is in the house"),
      (2L, "语言模型需要海量训练数据质量决定最终效果"),           // Chinese: han only
      (3L, "東京都内の高層建築物は地震対策を重視する"),           // Japanese: kanji-majority + kana
      (4L, "한국어 문서 분류 테스트 자료"))                       // Korean: hangul
    corpus.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("xx").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the blindness: the stopword profiler scores every CJK doc 0-0-0-0
    // and the tie-break hands them all to English
    val word = operators.TextAnalysis.queries("text_langid")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(word == Map(1L -> "en", 2L -> "en", 3L -> "en", 4L -> "en"),
      s"stopword langid must be blind on CJK (all 'en'): $word")
    // the catch: script mass separates them; doc 3 is the kana-presence
    // arm (han carries the letter mass, so a pure argmax would say zh)
    val script = operators.TextAnalysis.queries("text_langid_script")(spark, dir.toString)
      .collect().filter(_.getLong(0) > 0)
      .map(r => r.getLong(0) -> ((r.getString(10), r.getString(11)))).toMap
    assert(script(1L) == (("latin", "latin")), s"got ${script(1L)}")
    assert(script(2L) == (("han", "zh")), s"got ${script(2L)}")
    assert(script(3L) == (("han", "ja")),
      s"kanji-majority Japanese must classify ja via kana presence: ${script(3L)}")
    assert(script(4L) == (("hangul", "ko")), s"got ${script(4L)}")
  }

  test("char-level quality scores unsegmented docs the word metrics " +
      "see as constant garbage: boilerplate (one repeated char) lands " +
      "under diverse prose of the same length, and no ASCII doc " +
      "enters the routed output") {
    val dir = TestScratch.dir("graft_qchar_sound_")
    import spark.implicits._
    val diverse = "深度神经网络在自然语言处理领域取得重大突破注意力机制成为核心"
    val boiler = "的" * diverse.length
    Seq((1L, diverse), (2L, boiler), (3L, "plain english text here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("xx").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the blindness: the word metrics tokenize [a-z] runs, so a CJK doc
    // has ZERO words — NULL ratios, NULL score, no signal at all
    val word = operators.TextAnalysis.queries("text_quality")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (d <- Seq(1L, 2L))
      assert(word(d).getLong(1) == 0L && word(d).isNullAt(5),
        "word quality must see a CJK doc as wordless (NULL score, the " +
          s"blindness): ${word(d)}")
    // the catch: distinct-char diversity separates them
    val chars = operators.TextAnalysis.queries("text_quality_chars")(spark, dir.toString)
      .collect().filter(_.getLong(0) > 0)
      .map(r => r.getLong(0) -> r).toMap
    assert(chars.keySet == Set(1L, 2L),
      s"exactly the routed unsegmented corpus docs must report: ${chars.keySet}")
    assert(chars(1L).getLong(2) == diverse.distinct.length.toLong &&
      chars(2L).getLong(2) == 1L,
      s"distinct-char counts: ${chars(1L)} / ${chars(2L)}")
    assert(chars(1L).getDouble(5) > chars(2L).getDouble(5),
      "diverse prose must outscore single-char boilerplate: " +
        s"${chars(1L).getDouble(5)} <= ${chars(2L).getDouble(5)}")
  }

  test("char fingerprint splits what the word fingerprint FALSELY " +
      "MERGES: the [^a-z0-9] normalization squeezes every unsegmented " +
      "doc to '', so all share one word fingerprint; the routed base " +
      "distinguishes prose and equates punctuation variants") {
    import spark.implicits._
    val docs = Seq(
      (1L, "深層学習は、データの表現を学ぶ。"),
      (2L, "深層学習は データの表現を学ぶ"), // same letters, other separators
      (3L, "北京大学计算机科学技术研究所发布最新研究报告"),
      (4L, "plain english text here")).toDF("doc_id", "text")
    // the blindness — worse than a miss: docs 1-3 normalize to the
    // empty string and collapse onto ONE (fp_norm, fp_min_gram) pair,
    // so a fingerprint store would merge three distinct documents
    val word = operators.TextAnalysis.fingerprintOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(Set(word(1L), word(2L), word(3L)).size == 1,
      s"word fingerprint must collapse all unsegmented docs (the false " +
        s"merge): $word")
    assert(word(4L) != word(1L),
      "the ASCII doc keeps a real fingerprint")
    // the catch: the routed base fingerprints the \p{L} squeeze
    val chars = operators.TextAnalysis.fingerprintCharsOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(chars.keySet == Set(1L, 2L, 3L),
      s"exactly the unsegmented docs must route: ${chars.keySet}")
    assert(chars(1L) == chars(2L),
      s"punctuation variants of the same prose must share the " +
        s"fingerprint: ${chars(1L)} vs ${chars(2L)}")
    assert(chars(1L) != chars(3L),
      "distinct prose must keep distinct fingerprints")
  }

  test("char-bigram familiarity scores unsegmented docs the word model " +
      "NULLs: a prefix near-dup pair shares its bigrams (familiarity " +
      "2.0) while unrelated prose sits at the singleton floor 1.0") {
    import spark.implicits._
    val a = "机器学习改变世界语言模型处理文本数据"       // 18 distinct chars
    val b = a + "集"                                     // every bigram of a, once more
    val c = "北冰洋深处古老沉积物揭示气候变迁历史"       // shares no bigram with a/b
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "plain english text"))
      .toDF("doc_id", "text")
    // the blindness: zero [a-z] word bigrams -> NULL familiarity on
    // every unsegmented doc — rare boilerplate and fluent prose alike
    val word = operators.TextAnalysis
      .lmScoreOf(docs.withColumn("lang", lit("xx")))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (d <- Seq(1L, 2L, 3L))
      assert(word(d).getLong(2) == 0L && word(d).isNullAt(4),
        s"word familiarity must be NULL on unsegmented doc $d: ${word(d)}")
    // the catch: char bigrams carry the signal; hand-computed — a's 17
    // bigrams each occur twice (a is a prefix of b, all chars distinct)
    // -> 2.0; c's 17 bigrams are corpus-unique -> 1.0
    val chars = operators.TextAnalysis.lmScoreCharsOf(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(chars.keySet == Set(1L, 2L, 3L),
      s"exactly the unsegmented docs must route: ${chars.keySet}")
    assert(chars(1L).getLong(1) == 17L && chars(1L).getLong(2) == 34L &&
      chars(1L).getDouble(3) == 2.0, s"doc 1: ${chars(1L)}")
    assert(chars(2L).getLong(1) == 18L && chars(2L).getLong(2) == 35L,
      s"doc 2: ${chars(2L)}")
    assert(chars(3L).getLong(1) == 17L && chars(3L).getDouble(3) == 1.0,
      s"unrelated prose must score the singleton floor: ${chars(3L)}")
    assert(chars(1L).getDouble(3) > chars(3L).getDouble(3),
      "near-dup prose must outscore corpus-unique prose")
  }
}
