package graft

import org.apache.spark.sql.functions._

/** Planted-input soundness of `dedup_substring` end to end through the
  * production query: engineered verbatim repeats come out as maximal
  * spans with the right extents, island merging fuses overlapping
  * duplicated windows, a within-document repeat yields two separate
  * spans, and a unique document reports nothing. The DuckDB oracle
  * proves the engines AGREE; this proves the agreed semantics find the
  * planted truth.
  */
class SubstringDedupSpec extends SparkSpec {

  // tokenizer splits on [^a-z]+ — every word is pure lowercase letters,
  // and filler words carry a per-doc prefix so no window repeats by
  // accident
  private def uniq(tag: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$tag${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  private val p8 = Seq("pa", "pb", "pc", "pd", "pe", "pf", "pg", "ph")
  private val p10 = Seq("qa", "qb", "qc", "qd", "qe", "qf", "qg", "qh", "qi", "qj")

  private val doc1 = (uniq("one", 10) ++ p8 ++ uniq("von", 5)).mkString(" ")
  private val doc2 = (uniq("two", 5) ++ p8 ++ uniq("wot", 8)).mkString(" ")
  private val doc3 = uniq("three", 20).mkString(" ")
  private val doc4 = (p8 ++ uniq("four", 7) ++ p8).mkString(" ")
  private val doc5 = (p10 ++ uniq("five", 5)).mkString(" ")
  private val doc6 = (uniq("six", 4) ++ p10).mkString(" ")

  private lazy val corpusDir: String = {
    val dir = TestScratch.dir("graft_substr_sound_")
    import spark.implicits._
    Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, doc4), (5L, doc5), (6L, doc6))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("planted repeats come out as maximal spans; unique doc is silent") {
    val got = operators.Dedup.queries("dedup_substring")(spark, corpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val expected = Set(
      // cross-doc 8-word phrase: exactly ONE duplicated window each,
      // at the planted offset
      (1L, 10L, 8L, 1L),
      (2L, 5L, 8L, 1L),
      // within-doc repeat: two NON-adjacent islands, one span each
      (4L, 0L, 8L, 1L),
      (4L, 15L, 8L, 1L),
      // 10-word shared phrase: three overlapping windows merge into ONE
      // span of 10 words (span_words = extent, not window count)
      (5L, 0L, 10L, 3L),
      (6L, 4L, 10L, 3L),
    )
    assert(got == expected, s"spans mismatch:\ngot      $got\nexpected $expected")
    assert(!got.exists(_._1 == 3L), "the all-unique doc must report no spans")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("the cut path removes exactly the planted spans and hashes the rest") {
    val got = operators.Dedup.queries("dedup_substring_cut")(spark, corpusDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def exp(all: Seq[String], kept: Seq[String]) =
      (all.size.toLong, kept.size.toLong, md5Hex(kept.mkString(" ")))
    val expected = Map(
      1L -> exp(uniq("one", 10) ++ p8 ++ uniq("von", 5),
                uniq("one", 10) ++ uniq("von", 5)),
      2L -> exp(uniq("two", 5) ++ p8 ++ uniq("wot", 8),
                uniq("two", 5) ++ uniq("wot", 8)),
      3L -> exp(uniq("three", 20), uniq("three", 20)), // untouched
      4L -> exp(p8 ++ uniq("four", 7) ++ p8, uniq("four", 7)),
      5L -> exp(p10 ++ uniq("five", 5), uniq("five", 5)),
      6L -> exp(uniq("six", 4) ++ p10, uniq("six", 4)),
    )
    assert(got == expected, s"cut mismatch:\ngot      $got\nexpected $expected")
  }

  test("char-window spans (round 17): the routed unsegmented base finds " +
      "the planted cross-doc block once per doc at its position, the " +
      "within-doc repeat as TWO maximal spans, nothing for the unrelated " +
      "CJK doc — and every ASCII doc is routed out (8-WORD windows were " +
      "structurally empty here: a CJK doc is one \\p{L} token)") {
    // expectations computed independently from the planted texts (pure
    // BMP letters, so sliding windows are code-point windows)
    val texts = operators.Dedup.CJK_SPAN_DOCS.toMap
    val block = texts(-51L).drop(11).take(26) // the shared license block
    assert(texts(-52L).contains(block) && !texts(-53L).contains(block))
    val spans = operators.Dedup.queries("dedup_substring_chars")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.forall(_._1 < 0),
      s"ASCII fixture docs must be routed out of the char base: ${spans.toSeq}")
    val byDoc = spans.groupBy(_._1)
    // the 26-char block yields 7 duplicated 20-char windows merging into
    // one 26-char span per doc, starting at the block's letter offset
    assert(byDoc(-51L).toSeq == Seq((-51L, 11L, 26L, 7L)), s"${byDoc(-51L).toSeq}")
    assert(byDoc(-52L).toSeq == Seq((-52L, 13L, 26L, 7L)), s"${byDoc(-52L).toSeq}")
    assert(byDoc(-54L).toSeq.sortBy(_._2) ==
      Seq((-54L, 5L, 26L, 7L), (-54L, 37L, 26L, 7L)),
      s"within-doc repeat must report two maximal spans: ${byDoc(-54L).toSeq}")
    assert(!byDoc.contains(-53L),
      s"the unrelated CJK doc must report nothing: ${spans.toSeq}")
  }
}
