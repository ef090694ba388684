package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE script-routing predicate — the tokenizer dispatch the whole
  * near-dup/gram family routes on — and the planted, routed front-end
  * every certified multilingual row reads through, each defined ONCE
  * per engine: [[corpus]]/[[corpusSql]] (documents ∪ planted rows) and
  * [[routed]]/[[routedSql]] (the squeeze plus the unsegmented filter).
  *
  * Semantics: squeeze the normalized fold `lower(nfc(text))` to its
  * `\p{L}` code points, then classify by letter mass —
  *  - `letterless`: no letters at all (no text-dedup base applies; in
  *    particular this retires the degenerate `""` fallback shingle
  *    under which every letterless doc would pair at 1.0);
  *  - `latin`: ASCII letters are at least half the letter mass → the
  *    word-shingle bases (whitespace-segmented scripts);
  *  - `nonlatin` (a.k.a. UNSEGMENTED here): majority non-ASCII letters
  *    → the char-gram bases, because scripts written without word
  *    separators make a whole document ONE `\p{L}` run and word
  *    shingling structurally blind.
  * Pure integer arithmetic on code-point counts, so the decision is
  * bit-reproducible cross-engine (`text_script_route` certifies it on
  * planted 2/3/4-byte docs every run).
  *
  * Case-fold caveat (round-16 advice, documented at the one site that
  * now owns the fold): the squeeze folds with `lower()`, and JVM full
  * lowercasing diverges from DuckDB's utf8proc simple mapping on a
  * small class of characters — e.g. U+0130 (LATIN CAPITAL LETTER I
  * WITH DOT ABOVE) lowers to "i" + U+0307 in Java (a combining mark
  * that is NOT `\p{L}`, so it splits/shrinks the letter squeeze) but
  * to a single code point in DuckDB. A real corpus containing such
  * characters can therefore route/shingle differently between Spark
  * and the oracle; the planted contract docs deliberately avoid the
  * class (all planted non-ASCII letters are unaffected by `lower()`
  * or map 1→1 identically in both engines — `text_casefold_key`
  * documents the same exclusion for the exact-dedup key). The
  * production-correct fold for those scripts is the spec-gated
  * `casefold(nfc)` path (UnicodeFoldSpec), which has no DuckDB twin
  * and so cannot sit under a cross-engine contract row.
  *
  * Scale: one row-local regexp pass per document, no shuffle — cheap
  * enough to compute as a side effect of any scan. Production
  * pipelines take the class from langid where available and keep this
  * as the structural fallback for unidentified languages.
  */
private[operators] object ScriptRouting {

  /** `lower(nfc(text))` squeezed to its `\p{L}` code points — the
    * letter mass every routing count reads. The squeeze is the
    * codegen'd [[org.apache.spark.sql.graft.LetterSqueeze]] byte scan,
    * bit-equal to the previous `regexp_replace(…, "[^\p{L}]+", "")`
    * form (property-tested in TextExpressionProps; the oracle twin
    * [[sqSql]] keeps the regexp spelling) — r17 optimization: one scan
    * instead of a java.util.regex pass per document, on the hottest
    * shared column of the routed family.
    */
  def squeezedLetters(text: Column): Column =
    org.apache.spark.sql.graft.TextColumns.squeezeLetters(
      lower(org.apache.spark.sql.graft.TextColumns.nfc(text)))

  /** Majority non-ASCII letters over a squeeze column — true exactly
    * for the `nonlatin` class (a letterless squeeze is false: 0·2 > 0
    * fails, so the degenerate docs drop out of every consumer that
    * filters on this). Non-ASCII letter mass is
    * `length − ascii_letter_count` (one byte scan), ≡ the oracle's
    * `length(regexp_replace(sq, '[a-z]+', ''))`: every non-[a-z] code
    * point of the squeeze survives that replace.
    */
  def unsegmented(sq: Column): Column =
    (length(sq) - org.apache.spark.sql.graft.TextColumns
      .asciiLetterCount(sq)) * 2 > length(sq)

  /** Letters present AND ASCII-majority — the word-shingle class. */
  def latin(sq: Column): Column =
    length(sq) > 0 && !unsegmented(sq)

  /** `documents` ∪ planted `(doc_id, text)` rows — the contract corpus
    * of every row certified on planted multilingual docs (the fixtures
    * are all-ASCII, so without the plant such a row would certify
    * nothing, or the empty set). Columns are doc_id, text, then each
    * `extra` name: read from `documents` as is, and computed for the
    * planted rows by its expression over their text. The plant is a
    * LocalRelation unioned under the scan — free at any corpus size.
    */
  def corpus(s: SparkSession, d: String, docs: Seq[(Long, String)],
      extra: (String, Column)*): DataFrame = {
    import s.implicits._
    val base = Seq(col("doc_id"), col("text"))
    val planted = docs.toDF("doc_id", "text")
      .select(base ++ extra.map { case (n, c) => c.as(n) }: _*)
    Tables.documents(s, d).select(base ++ extra.map(e => col(e._1)): _*)
      .unionByName(planted)
  }

  /** The unsegmented-majority docs of a (…, text, …) frame with their
    * squeeze kept as `sq` — the char-gram bases' front door.
    */
  def routed(docs: DataFrame): DataFrame =
    docs.withColumn("sq", squeezedLetters(col("text")))
      .filter(unsegmented(col("sq")))

  // ---- DuckDB twins (one definition per engine, not per consumer) ----

  /** The squeeze as a SQL expression over a `text` column in scope. */
  val sqSql: String =
    "regexp_replace(lower(nfc_normalize(text)), '[^\\p{L}]+', '', 'g')"

  /** [[unsegmented]] over a squeeze expression/column name. */
  def unsegmentedSql(sq: String): String =
    s"length(regexp_replace($sq, '[a-z]+', '', 'g')) * 2 > length($sq)"

  /** [[latin]] over a squeeze expression/column name. */
  def latinSql(sq: String): String =
    s"(length($sq) > 0 AND NOT (${unsegmentedSql(sq)}))"

  /** [[corpus]] as the CTE `name(doc_id, text, extra…)`; each extra
    * column's planted value is its SQL over the planted text.
    */
  def corpusSql(docs: Seq[(Long, String)], name: String = "corpus",
      extra: Seq[(String, String => String)] = Nil): String = {
    val cols = ("doc_id" +: "text" +: extra.map(_._1)).mkString(", ")
    val values = docs.map { case (id, t) =>
      (s"CAST($id AS BIGINT)" +: s"'$t'" +: extra.map(_._2(t)))
        .mkString("(", ", ", ")")
    }.mkString(", ")
    s"""$name AS (
       |  SELECT $cols FROM documents
       |  UNION ALL SELECT * FROM (VALUES $values) t($cols))""".stripMargin
  }

  /** [[routed]] over [[corpus]] as CTEs `corpus$sfx`, `sq0$sfx` and
    * `routed$sfx(doc_id, text, sq)`; the suffix lets two routed chains
    * share one WITH.
    */
  def routedSql(docs: Seq[(Long, String)], sfx: String = ""): String =
    s"""${corpusSql(docs, s"corpus$sfx")},
       |sq0$sfx AS (
       |  SELECT doc_id, text, $sqSql AS sq FROM corpus$sfx),
       |routed$sfx AS (
       |  SELECT doc_id, text, sq FROM sq0$sfx
       |  WHERE ${unsegmentedSql("sq")})""".stripMargin
}
