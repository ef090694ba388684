package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: token counting, quality
  * scoring, language ID (stopword heuristic), document fingerprinting,
  * and tf-idf.
  *
  * Scale notes: every per-document metric is a narrow projection — one
  * pass over the text column, no shuffle (the orderBy exists only for
  * oracle determinism; a pipeline would drop it). tf-idf is two hash
  * aggregations (term counts, document frequencies) and a broadcast of
  * the tiny df side at 100 TB vocab sizes; ranking is a bounded window
  * per document.
  */
object TextAnalysis extends QueryModule {

  import Tables._

  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("words", expr("filter(split(text, '[^a-z]+'), x -> x <> '')"))

  private val wordsCte =
    """docs AS (
      |  SELECT doc_id, lang, text,
      |    list_filter(string_split_regex(text, '[^a-z]+'), x -> x <> '') AS words
      |  FROM documents)""".stripMargin

  // ---- token counting -------------------------------------------------

  private def tokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      expr("size(filter(split(text, '\\\\s+'), x -> x <> ''))").cast("long").as("n_ws_tokens"),
      expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").as("n_alpha_tokens"),
      // BPE-ish pre-tokenizer: letter runs, digit runs, single symbols
      expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
        .cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"))
      .orderBy("doc_id")

  // ---- Unicode-aware tokenization -------------------------------------

  /** The four planted non-ASCII documents (negative doc_ids, so they can
    * never collide with fixture rows), written with \\u escapes so the
    * build never depends on source-file encoding. One Seq feeds BOTH the
    * Spark union and the oracle's VALUES list — the engines tokenize the
    * same bytes by construction. Fixture text is pure ASCII (verified:
    * zero non-ASCII rows at every driver SF), so without the plant this
    * query could go green while structurally ASCII-bound.
    */
  private[operators] val UNICODE_DOCS: Seq[(Long, String)] = Seq(
    // German: umlauts + capitals — 5 letter-runs under \p{L}, but the
    // family's [a-z] splitter shreds it into 7 fragments
    -1L -> "\u00dcberraschung sch\u00f6ne Gr\u00fcsse aus M\u00fcnchen",
    // CJK (Lo letters): 3 tokens under \p{L}, ZERO under [a-z]
    -2L -> "\u673a\u5668\u5b66\u4e60 \u6539\u53d8 \u4e16\u754c",
    // Greek: 3 tokens under \p{L}, zero under [a-z]
    -3L -> "\u03b3\u03b5\u03b9\u03b1 \u03c3\u03bf\u03c5 \u03ba\u03cc\u03c3\u03bc\u03b5",
    // ASCII control row: the two splitters must agree exactly
    -4L -> "plain ascii text stays identical under both splitters")

  /** Unicode-aware tokenization — the multilingual arm of the text
    * family: letter-run tokens under the Unicode class `[^\p{L}]+`
    * (Java and RE2 both read \p{L} as the Unicode Letter category, so
    * the engines agree char-for-char), side by side with the family's
    * deliberate ASCII `[^a-z]+` splitter so the divergence is VISIBLE
    * per document: a CJK doc counts 0 ASCII tokens but its true letter
    * runs under \p{L}; the ASCII control doc counts identically under
    * both. No case mapping anywhere — lower() on non-ASCII is where
    * engines genuinely disagree (ICU vs JVM vs DuckDB), and a
    * tokenizer must not depend on it.
    *
    * Which queries intentionally KEEP `[a-z]`: the reference-parity
    * word count (mr/word_count.h:22-26 is hard-ASCII `isalpha`) and
    * every oracle-shared dedup/pipe tokenizer where both engines'
    * regex classes were chosen together — see SCALE.md §Text.
    *
    * Scale: row-local split + aggregate sizes, one scan, no shuffle
    * before the terminal sort; the planted union is a 4-row
    * LocalRelation unioned under the scan — free at any corpus size.
    */
  private def tokensUnicode(s: SparkSession, d: String): DataFrame = {
    val toks = org.apache.spark.sql.graft.TextColumns.letterTokens(col("text"))
    ScriptRouting.corpus(s, d, UNICODE_DOCS)
      // the \p{L} columns run the codegen'd LetterRunTokens scanner —
      // the SAME expression the dedup/pipe bases tokenize with — so
      // this contract row certifies the production scanner against
      // RE2's \p{L}, not merely Java's regex engine against RE2's
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tok_unicode"),
        expr("size(filter(split(text, '[^a-z]+'), x -> x <> ''))")
          .cast("long").as("n_tok_ascii"),
        size(array_distinct(toks)).cast("long").as("n_uniq_unicode"))
      .orderBy("doc_id")
  }

  private def tokensUnicodeOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(UNICODE_DOCS)},
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> x <> '') AS tu,
       |    list_filter(string_split_regex(text, '[^a-z]+'), x -> x <> '') AS ta
       |  FROM corpus)
       |SELECT doc_id, len(tu)::BIGINT AS n_tok_unicode,
       |  len(ta)::BIGINT AS n_tok_ascii,
       |  len(list_distinct(tu))::BIGINT AS n_uniq_unicode
       |FROM tok ORDER BY doc_id""".stripMargin

  /** Planted docs exercising every byte-width and category-boundary
    * class the `\p{L}` scanner must classify: 2-byte letters
    * (Greek/Cyrillic, already lowercase so no case mapping enters),
    * 3-byte CJK, a 4-byte supplementary-plane letter, fullwidth Lu/Ll,
    * a combining mark (Mn — NOT a letter, must split a run), an NFD
    * spelling that must compose under nfc before tokenizing, and a
    * letterless doc (must emit the EMPTY array, not a fallback
    * element). Spelled in \\u escapes where the byte sequence is the
    * point. No apostrophes (they'd need SQL escaping in the VALUES
    * twin) and no uppercase-with-divergent-lowering (this query folds
    * with nfc only — case mapping is certified separately by
    * text_casefold_key inside the agreeing script class).
    */
  private[graft] val LETTER_TOKEN_DOCS: Seq[(Long, String)] = Seq(
    -31L -> "\u03c9\u03bc\u03ad\u03b3\u03b1 \u03ba\u03cc\u03c3\u03bc\u03bf\u03c2 \u03b3\u03b5\u03b9\u03b1",
    -32L -> "\u0441\u0435\u0432\u0435\u0440\u043d\u0430\u044f \u0437\u0438\u043c\u0430",
    -33L -> "\u5317\u4eac\u5927\u5b66 \u8ba1\u7b97\u673a 42",
    // NFD spellings: i+U+0308, e+U+0301 must COMPOSE under nfc into
    // single precomposed letters (bare Mn marks would split the runs)
    -34L -> "nai\u0308ve cafe\u0301 123",
    // a combining acute after a NON-composable base ('b' takes no
    // acute) survives nfc as a standalone Mn and splits the run: ab|cd
    -35L -> "ab\u0301cd e",
    -36L -> "\uff21\uff22 \uff41\uff42", // fullwidth Lu + Ll
    -37L -> "\ud800\udf30\ud800\udf31 gothic", // U+10330 U+10331 (Lo, 4-byte UTF-8)
    -38L -> "42 12.5 ...", // letterless: empty token array
    -39L -> "mixed\u03c9runs keep\u0436going") // script changes do NOT split a run

  /** The production tokenizer under the oracle, byte-exact: maximal
    * `\p{L}` runs of `nfc(text)` via the codegen'd scanner, proven by
    * an md5 of the space-joined token stream (tokens cannot contain
    * spaces, so the join is injective) — not just counts. This is the
    * certification row the whole near-dup/gram family leans on: the
    * dedup shingles, SimHash tokens, substring windows, and
    * decontamination/repetition grams all tokenize with this exact
    * expression (plus the lower() fold certified by
    * text_casefold_key).
    *
    * Scale: row-local scan + one md5 per row; the planted union is a
    * 9-row LocalRelation — free at any corpus size.
    */
  private def letterTokensQ(s: SparkSession, d: String): DataFrame = {
    val toks = org.apache.spark.sql.graft.TextColumns.letterTokens(
      org.apache.spark.sql.graft.TextColumns.nfc(col("text")))
    ScriptRouting.corpus(s, d, LETTER_TOKEN_DOCS)
      .select(col("doc_id"), size(toks).cast("long").as("n_words"),
        md5(concat_ws(" ", toks)).as("words_md5"))
      .orderBy("doc_id")
  }

  private def letterTokensOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(LETTER_TOKEN_DOCS)},
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(nfc_normalize(text), '[^\\p{L}]+'), x -> x <> '') AS toks
       |  FROM corpus)
       |SELECT doc_id, len(toks)::BIGINT AS n_words,
       |  md5(coalesce(array_to_string(toks, ' '), '')) AS words_md5
       |FROM tok ORDER BY doc_id""".stripMargin

  /** Per-document script-class routing — the dedup family's tokenizer
    * dispatch as a first-class certified operator: `latin` (ASCII
    * letters are at least half the letter mass → word-shingle bases),
    * `nonlatin` (majority non-ASCII letters → the char-gram base;
    * `dedup_chargram_pairs` routes on exactly this predicate's
    * complement), `letterless` (no `\p{L}` at all → no text dedup base
    * applies). Pure integer arithmetic on code-point counts — both
    * engines' length() counts code points, proven on the planted
    * 2/3/4-byte rows — so the routing decision is bit-reproducible
    * anywhere. Scale: one row-local regexp pass per doc, no shuffle
    * before the terminal sort; production pipelines take the class
    * from langid and keep this as the structural fallback for
    * unidentified languages. Squeeze + class predicates are THE shared
    * [[ScriptRouting]] definitions (the same objects `Dedup`'s routed
    * char-gram base filters with), so this certified row and the
    * production routing can never drift.
    */
  private def scriptRoute(s: SparkSession, d: String): DataFrame =
    ScriptRouting.corpus(s, d, LETTER_TOKEN_DOCS)
      .withColumn("sq", ScriptRouting.squeezedLetters(col("text")))
      .withColumn("n_letters", length(col("sq")).cast("long"))
      // ≡ length(sq) - length(regexp_replace(sq, '[a-z]+', '')) — the
      // survivors of that replace are exactly the non-[a-z] code points
      .withColumn("n_ascii_letters",
        org.apache.spark.sql.graft.TextColumns
          .asciiLetterCount(col("sq")).cast("long"))
      .select(col("doc_id"), col("n_letters"), col("n_ascii_letters"),
        when(col("n_letters") === 0, "letterless")
          .when(!ScriptRouting.unsegmented(col("sq")), "latin")
          .otherwise("nonlatin").as("script_class"))
      .orderBy("doc_id")

  private def scriptRouteOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(LETTER_TOKEN_DOCS)},
       |sq AS (
       |  SELECT doc_id,
       |    ${ScriptRouting.sqSql} AS sq
       |  FROM corpus),
       |m AS (
       |  SELECT doc_id, length(sq)::BIGINT AS n_letters,
       |    (length(sq) - length(regexp_replace(sq, '[a-z]+', '', 'g')))::BIGINT
       |      AS n_ascii_letters,
       |    ${ScriptRouting.unsegmentedSql("sq")} AS unseg
       |  FROM sq)
       |SELECT doc_id, n_letters, n_ascii_letters,
       |  CASE WHEN n_letters = 0 THEN 'letterless'
       |       WHEN NOT unseg THEN 'latin'
       |       ELSE 'nonlatin' END AS script_class
       |FROM m ORDER BY doc_id""".stripMargin

  // ---- quality scoring ------------------------------------------------

  private def quality(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in").map(w => s"'$w'").mkString(", ")
    withWords(documents(s, d))
      .withColumn("n_words", expr("size(words)").cast("long"))
      .withColumn("n_alpha_chars",
        // ≡ length(regexp_replace(text, '[^a-z]', '')) — one byte scan
        org.apache.spark.sql.graft.TextColumns
          .asciiLetterCount(col("text")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(words, w -> w IN ($stop)))").cast("long"))
      // divide by nullif-style guards: a document with no [a-z] words (or
      // empty text) yields NULL ratios in BOTH engines — Spark's Divide
      // returns NULL on /0 only for decimals, and DuckDB returns inf/NaN,
      // so an explicit guard is the only cross-engine-stable choice.
      .withColumn("nwz", when(col("n_words") > 0, col("n_words")))
      .withColumn("ncz", when(length(col("text")) > 0, length(col("text"))))
      .withColumn("avg_word_len",
        round(col("n_alpha_chars").cast("double") / col("nwz"), 6))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("nwz"), 6))
      .withColumn("space_ratio",
        round((length(col("text")) - col("n_alpha_chars")).cast("double") /
          col("ncz"), 6))
      // The score combines the rounded components in INTEGER millionths
      // (scaled to 1e8 so the 0.5/0.3/0.2 weights stay integral, then
      // half-up to 6dp via (+50) div 100): summing the component doubles
      // and round()ing landed exactly on a .5e-6 tie for 2/5000 docs at
      // sf0.1, where the engines' round() implementations split. The
      // round(x*1e6) recoveries are safe — the component doubles sit
      // ~0.5 away from the nearest integer boundary, not on a tie.
      .withColumn("quality_score",
        expr("""CAST((least(n_words * 500000, 50000000)
            |  + 30000000 - CAST(round(stop_ratio * 1000000) AS BIGINT) * 30
            |  + least(CAST(round(avg_word_len * 1000000) AS BIGINT) * 2, 20000000)
            |  + 50) div 100 AS DOUBLE) / 1000000""".stripMargin))
      .select("doc_id", "n_words", "avg_word_len", "stop_ratio",
        "space_ratio", "quality_score")
      .orderBy("doc_id")
  }

  private val qualityOracle =
    s"""WITH $wordsCte,
       |m AS (
       |  SELECT doc_id,
       |    len(words)::BIGINT AS n_words,
       |    length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS n_alpha_chars,
       |    len(list_filter(words, w -> w IN ('the','a','and','of','to','in')))::BIGINT AS n_stop,
       |    length(text) AS n_chars0
       |  FROM docs)
       |SELECT doc_id, n_words,
       |  round(n_alpha_chars::DOUBLE / nullif(n_words, 0), 6) AS avg_word_len,
       |  round(n_stop::DOUBLE / nullif(n_words, 0), 6) AS stop_ratio,
       |  round((n_chars0 - n_alpha_chars)::DOUBLE / nullif(n_chars0, 0), 6) AS space_ratio,
       |  ((least(n_words * 500000, 50000000)
       |    + 30000000
       |    - round(round(n_stop::DOUBLE / nullif(n_words, 0), 6) * 1000000)::BIGINT * 30
       |    + least(round(round(n_alpha_chars::DOUBLE / nullif(n_words, 0), 6) * 1000000)::BIGINT * 2,
       |        20000000)
       |    + 50) // 100)::DOUBLE / 1000000 AS quality_score
       |FROM m ORDER BY doc_id""".stripMargin

  // ---- language ID (stopword-profile heuristic) -----------------------

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "la", "y", "los", "de", "es"))

  private def langid(s: SparkSession, d: String): DataFrame = {
    val scored = langProfiles.foldLeft(withWords(documents(s, d))) {
      case (df, (lang, stops)) =>
        val set = stops.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"s_$lang",
          expr(s"size(filter(words, w -> w IN ($set)))").cast("long"))
    }
    scored
      .withColumn("predicted",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
          col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .select("doc_id", "lang", "s_en", "s_de", "s_fr", "s_es", "predicted")
      .orderBy("doc_id")
  }

  private val langidOracle = {
    val scores = langProfiles.map { case (lang, stops) =>
      val set = stops.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(words, w -> w IN ($set)))::BIGINT AS s_$lang"
    }.mkString(",\n    ")
    s"""WITH $wordsCte,
       |scored AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM docs)
       |SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
       |  CASE
       |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |    WHEN s_fr >= s_es THEN 'fr'
       |    ELSE 'es' END AS predicted
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---- script classification: language ID for unsegmented scripts -----

  /** (script class, Java regex class, RE2 regex class): ONE list
    * generates the count columns AND both engines' argmax chains, so
    * the two sides cannot drift (the ScriptRouting shared-definition
    * discipline). Java spells Unicode script properties `\p{IsHan}`,
    * DuckDB's RE2 spells them `\p{Han}` — both read the same
    * Scripts.txt classes (verified identical on every planted row per
    * run by the oracle compare). Order IS the deterministic tie-break
    * of the argmax chain.
    */
  private val scriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("hiragana", "\\p{IsHiragana}", "\\p{Hiragana}"),
    ("katakana", "\\p{IsKatakana}", "\\p{Katakana}"),
    ("hangul", "\\p{IsHangul}", "\\p{Hangul}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"))

  /** Priority-ordered argmax over the class counts — plain SQL over
    * the already-computed `n_<class>` columns, so the SAME string runs
    * under Spark's `expr` and DuckDB. Ties break toward the earlier
    * class in [[scriptClasses]] order (latin first — the corpus
    * default), `other` last; letterless docs short-circuit to 'none'.
    */
  private def scriptArgmaxSql: String = {
    val names = scriptClasses.map(_._1) :+ "other"
    val arms = names.init.zipWithIndex.map { case (n, i) =>
      val later = names.drop(i + 1).map(m => s"n_$n >= n_$m").mkString(" AND ")
      s"WHEN $later THEN '$n'"
    }
    s"CASE WHEN n_letters = 0 THEN 'none' ${arms.mkString(" ")} ELSE 'other' END"
  }

  /** Script → language class, with the published Japanese-vs-Chinese
    * discriminator: kana PRESENCE marks Japanese even when kanji carry
    * the letter mass (every Japanese sentence interleaves both; a
    * Chinese one has no kana). Latin-script docs defer to the
    * stopword-profile `text_langid` — script mass alone cannot split
    * en/de/fr/es. Shared SQL text, same reasoning as
    * [[scriptArgmaxSql]].
    */
  private val langClassSql: String =
    """CASE WHEN script = 'none' THEN 'und'
      | WHEN script IN ('hiragana', 'katakana') THEN 'ja'
      | WHEN script = 'han' AND n_hiragana + n_katakana > 0 THEN 'ja'
      | WHEN script = 'han' THEN 'zh'
      | WHEN script = 'hangul' THEN 'ko'
      | WHEN script = 'greek' THEN 'el'
      | WHEN script = 'cyrillic' THEN 'ru'
      | WHEN script = 'latin' THEN 'latin'
      | ELSE 'und' END""".stripMargin

  /** Planted docs for the script-classifier rows — the unsegmented and
    * mixed-script language classes [[LETTER_TOKEN_DOCS]] does not
    * cover: Korean (hangul, space-segmented but majority non-ASCII),
    * Japanese with KANJI-majority letter mass (the kana-presence arm
    * must fire — a pure han argmax would call it Chinese), and a
    * katakana-majority doc. All letters chosen case-stable and
    * script-unambiguous (no U+30FC prolonged-sound mark, which is
    * Script=Common and would land in n_other — a legal but less
    * legible certification).
    */
  private[graft] val LANGID_SCRIPT_DOCS: Seq[(Long, String)] = Seq(
    -111L -> "한국어는 조사와 어미가 발달한 언어이다",
    -112L -> "東京都内の高層建築物構造設計基準は地震対策を重視する",
    -113L -> "カタカナのテキストはアニメとマンガで使う")

  /** Language ID by Unicode script mass — the langid tier that works
    * where the stopword profile is structurally blind: `text_langid`
    * scores word-token overlap against en/de/fr/es stopword lists, so
    * a CJK document (ONE `\p{L}` token, zero stopword hits) falls out
    * as 'en' on the tie-break (TextSoundnessSpec pins that miss).
    * This operator counts per-script letter mass over the SAME
    * [[ScriptRouting]] squeeze the dedup family routes on, argmaxes
    * with a deterministic tie-break, and maps script → language class
    * (kana presence ⇒ Japanese, the standard CJK discriminator —
    * cf. CLD2's script-first design, public). Latin-script docs defer
    * to the stopword tier; the two operators compose into the full
    * dispatch: script mass first, stopword profiles within the latin
    * class.
    *
    * Cross-engine caveat (documented, same class as [[ScriptRouting]]'s
    * fold note): Java and RE2 read their own Unicode script tables, so
    * a code point whose script assignment moved between Unicode
    * versions could count differently; the planted rows use only
    * decades-stable BMP letters, and the oracle compare re-proves the
    * agreement on them every run.
    *
    * Scale: row-local — one squeeze + |classes| codegen'd regexp
    * passes per doc, no shuffle before the terminal sort (which only
    * the contract row needs). At 100 TB this rides the same scan as
    * quality/routing; production keeps the class column as corpus
    * metadata.
    */
  private def langidScript(s: SparkSession, d: String): DataFrame = {
    // r17 optimization: the per-class `length(regexp_replace(sq,
    // '[^\p{IsXxx}]+', ''))` columns were |classes| java-regex NFA
    // passes over every document; ScriptCounts computes all of them in
    // ONE codegen'd code-point scan (bit-identical — java regex
    // \p{IsXxx} IS UnicodeScript membership; property-tested). The
    // oracle keeps the per-class regexp spelling.
    val counts = scriptClasses.zipWithIndex.foldLeft(
      ScriptRouting.corpus(s, d, LETTER_TOKEN_DOCS ++ LANGID_SCRIPT_DOCS)
        .withColumn("sq", ScriptRouting.squeezedLetters(col("text")))
        .withColumn("n_letters", length(col("sq")).cast("long"))
        .withColumn("sc", org.apache.spark.sql.graft.TextColumns
          .scriptCounts(col("sq"), scriptClasses.map(_._1)))) {
      case (df, ((name, _, _), i)) =>
        df.withColumn(s"n_$name", element_at(col("sc"), i + 1))
    }
    counts
      .withColumn("n_other",
        scriptClasses.map(c => col(s"n_${c._1}"))
          .foldLeft(col("n_letters"))(_ - _))
      .withColumn("script", expr(scriptArgmaxSql))
      .withColumn("lang_class", expr(langClassSql))
      .select(Seq(col("doc_id"), col("n_letters")) ++
        scriptClasses.map(c => col(s"n_${c._1}")) ++
        Seq(col("n_other"), col("script"), col("lang_class")): _*)
      .orderBy("doc_id")
  }

  private def langidScriptOracle: String = {
    val countCols = scriptClasses.map { case (name, _, re2Cls) =>
      s"length(regexp_replace(sq, '[^$re2Cls]+', '', 'g'))::BIGINT AS n_$name"
    }.mkString(",\n    ")
    val otherExpr = scriptClasses.map(c => s"n_${c._1}")
      .mkString("n_letters - ", " - ", "")
    s"""WITH ${ScriptRouting.corpusSql(LETTER_TOKEN_DOCS ++ LANGID_SCRIPT_DOCS)},
       |sq AS (
       |  SELECT doc_id, ${ScriptRouting.sqSql} AS sq FROM corpus),
       |m AS (
       |  SELECT doc_id, length(sq)::BIGINT AS n_letters,
       |    $countCols
       |  FROM sq),
       |m2 AS (
       |  SELECT *, ($otherExpr)::BIGINT AS n_other,
       |    $scriptArgmaxSql AS script
       |  FROM m)
       |SELECT doc_id, n_letters,
       |  ${scriptClasses.map(c => s"n_${c._1}").mkString(", ")}, n_other,
       |  script, $langClassSql AS lang_class
       |FROM m2 ORDER BY doc_id""".stripMargin
  }

  // ---- quality scoring for unsegmented scripts -------------------------

  /** Character-level quality scoring for the routed unsegmented docs of
    * corpus ∪ the planted multilingual docs: the word-base metrics
    * score a CJK document as ONE word with ZERO `[a-z]` alphabetic
    * characters (a constant garbage score regardless of content;
    * TextSoundnessSpec pins it), so — after CCNet's and Gopher's
    * character-level rules — this row emits letter count,
    * letter-to-text density, distinct code-point diversity (a
    * boilerplate/repetition proxy) and a 0.4/0.3/0.3 composite in exact
    * integer millionths (the `text_quality` rounding contract). Scale:
    * row-local projection over the routed slice, no shuffle before the
    * contract sort.
    */
  private def qualityChars(s: SparkSession, d: String): DataFrame =
    ScriptRouting.routed(
        ScriptRouting.corpus(s, d, LETTER_TOKEN_DOCS ++ LANGID_SCRIPT_DOCS))
      .withColumn("n_letters", length(col("sq")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(
        org.apache.spark.sql.graft.TextColumns.charNGrams(col("sq"), 1)))
        .cast("long"))
      // routed ⇒ n_letters ≥ 1 and length(text) ≥ 1: no /0 guards needed
      .withColumn("letter_ratio",
        round(col("n_letters").cast("double") / length(col("text")), 6))
      .withColumn("uniq_ratio",
        round(col("n_uniq").cast("double") / col("n_letters"), 6))
      .withColumn("quality_score",
        expr("""CAST((least(n_letters * 20000, 1000000) * 40
            |  + CAST(round(letter_ratio * 1000000) AS BIGINT) * 30
            |  + CAST(round(uniq_ratio * 1000000) AS BIGINT) * 30
            |  + 50) div 100 AS DOUBLE) / 1000000""".stripMargin))
      .select("doc_id", "n_letters", "n_uniq", "letter_ratio",
        "uniq_ratio", "quality_score")
      .orderBy("doc_id")

  private def qualityCharsOracle: String =
    s"""WITH ${ScriptRouting.routedSql(LETTER_TOKEN_DOCS ++ LANGID_SCRIPT_DOCS)},
       |m AS (
       |  SELECT doc_id, length(sq)::BIGINT AS n_letters,
       |    len(list_distinct(list_transform(range(length(sq)),
       |      i -> substr(sq, i + 1, 1))))::BIGINT AS n_uniq,
       |    round(length(sq)::DOUBLE / length(text), 6) AS letter_ratio
       |  FROM routed),
       |m2 AS (
       |  SELECT *, round(n_uniq::DOUBLE / n_letters, 6) AS uniq_ratio
       |  FROM m)
       |SELECT doc_id, n_letters, n_uniq, letter_ratio, uniq_ratio,
       |  ((least(n_letters * 20000, 1000000) * 40
       |    + round(letter_ratio * 1000000)::BIGINT * 30
       |    + round(uniq_ratio * 1000000)::BIGINT * 30
       |    + 50) // 100)::DOUBLE / 1000000 AS quality_score
       |FROM m2 ORDER BY doc_id""".stripMargin

  // ---- document fingerprinting ----------------------------------------

  /** Whitespace-normalized content hash + min-k-gram rolling fingerprint
    * (winnowing-style: the min base-31 polynomial hash over all 8-char
    * grams — real winnowing uses cheap rolling hashes, and the
    * polynomial is exact 64-bit integer math an exact-arithmetic oracle
    * recomputes identically). The whole fingerprint is ONE codegen'd
    * projection over the scan via the custom
    * [[org.apache.spark.sql.graft.MinGramHash]] expression: no explode,
    * no shuffle amplification, O(len) per document. The earlier
    * explode+substr form was O(len²) per document (UTF8String substr
    * walks to position i) and 5× slower at sf0.1.
    */
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    fingerprintOf(documents(s, d))

  /** The fingerprint pipeline over an arbitrary (doc_id, text, ...)
    * frame. Normalization is the FULL fold, `casefold(nfc(text))` — on
    * the pure-lowercase-ASCII fixture corpus (Round12Spec pins it) this
    * is byte-identical to the oracle's `lower(text)`, so the contract
    * row stays oracle-gated; on real multilingual input it is the
    * production-correct form (NFD composes before hashing, ß→ss
    * survives the `[^a-z0-9]+` squeeze where `lower()`'s kept ß was
    * stripped, every sigma spelling lands on one key) — spec-gated by
    * UnicodeFoldSpec's planted docs because DuckDB ships no fold.
    */
  private[graft] def fingerprintOf(df: DataFrame): DataFrame =
    df.withColumn("norm",
        expr("trim(regexp_replace(casefold(nfc(text)), '[^a-z0-9]+', ' '))"))
      .select(col("doc_id"), md5(col("norm")).as("fp_norm"),
        org.apache.spark.sql.graft.TextColumns.minGramHash(col("norm"))
          .as("fp_min_gram"))
      .orderBy("doc_id")

  /** The fingerprint oracles' min-gram: the min base-31 polynomial over
    * the 8-character windows of space-padded column `padded`, one
    * window per `i` in `range(m)` — the DuckDB twin of MinGramHash and
    * MinCharGramHash.
    */
  private def minGramSql(padded: String): String =
    (1 to 8).map { j =>
      s"ord(substr($padded, i+$j, 1))::BIGINT" +
        (if (j < 8) s"*${BigInt(31).pow(8 - j)}" else "")
    }.mkString("list_min(list_transform(range(m),\n    i -> ", "\n       + ", "))")

  private val fingerprintOracle =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, md5(norm) AS fp_norm, norm || '        ' AS n8,
       |    greatest(length(norm)-7, 1) AS m FROM n)
       |SELECT doc_id, fp_norm,
       |  ${minGramSql("n8")} AS fp_min_gram
       |FROM g ORDER BY doc_id""".stripMargin

  // ---- document fingerprinting for unsegmented scripts -----------------

  /** Planted docs closing the fingerprint-specific certification gaps
    * the shared LETTER_TOKEN/LANGID sets leave open: a
    * punctuation/whitespace-variant pair of the SAME Japanese prose
    * (identical squeeze ⇒ identical fingerprint — the
    * normalization-catch the winnowing recipe exists for) and a
    * supplementary-plane doc (11 Gothic Lo letters, 4-byte UTF-8) —
    * the code-point-vs-byte window arithmetic proven above U+FFFF in
    * both engines every run.
    */
  private[graft] val FINGERPRINT_CHAR_DOCS: Seq[(Long, String)] = Seq(
    -121L -> "深層学習は、データの表現を学ぶ。",
    -122L -> "深層学習は データの表現を学ぶ",
    -123L -> "𐌰𐌱𐌲𐌳𐌴𐌵𐌶𐌷𐌸𐌹𐌺")

  /** The fingerprint of the routed unsegmented docs of corpus ∪ the
    * planted multilingual docs. The word form's `[^a-z0-9]+`
    * normalization squeezes a CJK document to the EMPTY string, so
    * every unsegmented doc would share one `md5('')` fingerprint
    * (TextSoundnessSpec pins that false merge and this split). Here
    * the normalized form is the [[ScriptRouting]] `\p{L}` squeeze and
    * the min-gram runs over 8-CODE-POINT windows via the codegen'd
    * [[org.apache.spark.sql.graft.MinCharGramHash]] (byte windows would
    * hash UTF-8 fragments no `ord`-based oracle recomputes). The
    * identical CJK pair (-44/-45) lands on equal fingerprints, the
    * punctuation variants (-121/-122) prove the squeeze erases
    * formatting, and the Gothic doc certifies the 4-byte plane. Scale:
    * one squeeze + one O(len) hash pass per routed doc, no shuffle
    * before the contract sort.
    */
  private def fingerprintChars(s: SparkSession, d: String): DataFrame =
    fingerprintCharsOf(ScriptRouting.corpus(s, d, LETTER_TOKEN_DOCS ++
      LANGID_SCRIPT_DOCS ++ Dedup.CJK_NEARDUP_DOCS ++ FINGERPRINT_CHAR_DOCS))

  /** The routed char fingerprint over an arbitrary (doc_id, text, ...)
    * frame — the seam TextSoundnessSpec drives planted corpora through.
    */
  private[graft] def fingerprintCharsOf(df: DataFrame): DataFrame =
    ScriptRouting.routed(df)
      .select(col("doc_id"), md5(col("sq")).as("fp_norm"),
        org.apache.spark.sql.graft.TextColumns.minCharGramHash(col("sq"))
          .as("fp_min_gram"))
      .orderBy("doc_id")

  private def fingerprintCharsOracle: String =
    s"""WITH ${ScriptRouting.routedSql(LETTER_TOKEN_DOCS ++
         LANGID_SCRIPT_DOCS ++ Dedup.CJK_NEARDUP_DOCS ++ FINGERPRINT_CHAR_DOCS)},
       |g AS (
       |  SELECT doc_id, md5(sq) AS fp_norm, sq || '        ' AS s8,
       |    greatest(length(sq)-7, 1) AS m FROM routed)
       |SELECT doc_id, fp_norm,
       |  ${minGramSql("s8")} AS fp_min_gram
       |FROM g ORDER BY doc_id""".stripMargin

  // ---- tf-idf ---------------------------------------------------------

  /** Top-3 tf-idf terms per document. Ranking uses the rounded score so
    * both engines order identically despite last-ulp ln() differences.
    */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val nDocs = docs.select(countDistinct("doc_id").as("nd"))
    // explode + row filter instead of the array filter-lambda: the
    // lambda body evaluates interpreted (HOFs don't codegen), the row
    // filter runs inside whole-stage codegen
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
    val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val dl = tf.groupBy("doc_id").agg(sum("c").as("dlen"))
    // tf is already distinct on (doc_id, word), so document frequency
    // derives from it — one tokenize pass feeds the whole query instead
    // of tf and dfreq each re-reading and re-splitting the corpus
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    // dfreq is NOT broadcast: its cardinality is the corpus VOCABULARY,
    // which grows with the data (a 100 TB crawl has billions of distinct
    // tokens — typos, codes, concatenations) and would blow the
    // broadcast/driver limit. A shuffle join on `word` is the
    // scale-safe shape; AQE still broadcasts it when it is actually
    // small, so the fixture pays nothing for the honest plan.
    tf.join(dl, "doc_id")
      .join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round((col("c").cast("double") / col("dlen")) *
          log(col("nd").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "word", "score")
      .orderBy("doc_id", "rnk")
  }

  private val tfidfOracle =
    s"""WITH $wordsCte,
       |tok AS (SELECT doc_id, unnest(words) AS word FROM docs),
       |tf AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(c) AS dlen FROM tf GROUP BY 1),
       |dfreq AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.word,
       |    round((tf.c::DOUBLE / dl.dlen) * ln(n.nd::DOUBLE / dfreq.df), 6) AS score
       |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
       |  JOIN dfreq ON tf.word = dfreq.word, n),
       |ranked AS (
       |  SELECT doc_id, word, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rnk
       |  FROM scored)
       |SELECT doc_id, rnk, word, score FROM ranked
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---- corpus n-gram statistics ---------------------------------------

  /** Global top-25 word bigrams: per-doc bigram arrays (no shuffle),
    * one hash aggregation, bounded TakeOrdered top-k — the n-gram LM /
    * contamination-check primitive at corpus scale.
    */
  private def ngrams(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .select(explode(expr(
        """CASE WHEN size(words) >= 2
          |THEN transform(sequence(0, size(words)-2),
          |  i -> concat_ws(' ', words[i], words[i+1]))
          |ELSE array() END""".stripMargin)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(25)

  private val ngramsOracle =
    s"""WITH $wordsCte,
       |bg AS (
       |  SELECT unnest(CASE WHEN len(words) >= 2
       |    THEN list_transform(range(len(words)-1),
       |      i -> words[i+1] || ' ' || words[i+2])
       |    ELSE [] END) AS bigram
       |  FROM docs)
       |SELECT bigram, count(*) AS cnt FROM bg
       |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 25""".stripMargin

  // ---- PII scrubbing --------------------------------------------------

  /** Training-data scrub pass: redact email-shaped tokens and long digit
    * runs, count what was removed. Pure per-row projection — codegen'd
    * regex, no shuffle (the orderBy is oracle determinism); the regexes
    * use dialect-portable character classes only. The digit count runs
    * on the EMAIL-SCRUBBED text, mirroring the sequential redaction:
    * digits the email pass already swallowed (a domain like
    * `bar.com123456789`) are neither redacted as `<NUM>` nor counted,
    * so "count what was removed" stays literally true (the raw-text
    * count over-reported exactly those — pinned by TextSoundnessSpec's
    * overlap case).
    */
  private def piiScrub(s: SparkSession, d: String): DataFrame = {
    // ONE two-scan codegen pass (PiiScan) computes all three outputs —
    // the regex spelling ran FIVE java.util.regex NFA passes per row
    // (email extract, email replace ×2, digit extract, digit replace);
    // the oracle keeps the regexp form, so the hash-match proves the
    // scanner (plus TextExpressionProps' per-row reference check). The
    // three struct fields share one evaluation via codegen
    // subexpression elimination.
    val p = org.apache.spark.sql.graft.TextColumns.piiScan(col("text"))
    // materialize once: the scrub pass would otherwise run twice
    // (the terminal sort's sampling pass — see fn_math / graft.Materialize)
    graft.Materialize.once(s"text_pii_scrub@$d", documents(s, d).select(
      col("doc_id"),
      p.getField("n_emails").as("n_emails"),
      p.getField("n_digit_runs").as("n_digit_runs"),
      md5(p.getField("scrubbed")).as("scrubbed_md5")))
      .orderBy("doc_id")
  }

  private val piiScrubOracle =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+'))::BIGINT AS n_emails,
      |  len(regexp_extract_all(regexp_replace(text, '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
      |    '[0-9]{6,}'))::BIGINT AS n_digit_runs,
      |  md5(regexp_replace(regexp_replace(text, '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g')) AS scrubbed_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- collocations (PMI) ---------------------------------------------

  /** Top-25 collocations by pointwise mutual information:
    * pmi = ln( (c_xy / N_bg) / ((c_x / N_w) * (c_y / N_w)) ) over bigrams
    * seen >= 5 times. All counts are exact integers and the double
    * formula is identical in both engines; ranking uses the ROUNDED
    * score (+ bigram tiebreak) so a last-ulp ln() difference can't
    * reorder. Shape at scale: two hash aggregations (bigrams, unigrams)
    * + two broadcast joins of the tiny >= 5 survivor set against the
    * unigram table, then a bounded top-k.
    */
  private def collocations(s: SparkSession, d: String): DataFrame = {
    val words = withWords(documents(s, d)).select("doc_id", "words")
    val uni = words.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val nw = uni.agg(sum("cw").as("n_words"))
    val bg = words
      .select(explode(expr(
        """CASE WHEN size(words) >= 2
          |THEN transform(sequence(0, size(words)-2),
          |  i -> struct(words[i] AS x, words[i+1] AS y))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val nb = bg.agg(sum("cxy").as("n_bg"))
    // uni (the unigram table) is vocabulary-sized — corpus-derived, so
    // not broadcast (same reasoning as tfidf's dfreq); the 1-row totals
    // nw/nb stay broadcast. AQE broadcasts uni at fixture scale anyway.
    bg.filter(col("cxy") >= 5)
      .join(uni.withColumnRenamed("w", "x").withColumnRenamed("cw", "cx"), "x")
      .join(uni.withColumnRenamed("w", "y").withColumnRenamed("cw", "cy"), "y")
      .crossJoin(broadcast(nw)).crossJoin(broadcast(nb))
      .withColumn("pmi", round(
        log((col("cxy").cast("double") / col("n_bg")) /
          ((col("cx").cast("double") / col("n_words")) *
            (col("cy").cast("double") / col("n_words")))), 6))
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("cxy"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(25)
  }

  private val collocationsOracle =
    s"""WITH $wordsCte,
       |uni AS (
       |  SELECT unnest(words) AS w FROM docs),
       |ucnt AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
       |nw AS (SELECT sum(cw) AS n_words FROM ucnt),
       |bg AS (
       |  SELECT unnest(CASE WHEN len(words) >= 2
       |    THEN list_transform(range(len(words)-1),
       |      i -> {'x': words[i+1], 'y': words[i+2]})
       |    ELSE [] END) AS b
       |  FROM docs),
       |bcnt AS (SELECT b.x AS x, b.y AS y, count(*) AS cxy FROM bg GROUP BY 1, 2),
       |nb AS (SELECT sum(cxy) AS n_bg FROM bcnt)
       |SELECT x || ' ' || y AS bigram, cxy,
       |  round(ln((cxy::DOUBLE / n_bg) /
       |    ((ux.cw::DOUBLE / n_words) * (uy.cw::DOUBLE / n_words))), 6) AS pmi
       |FROM bcnt
       |JOIN ucnt ux ON bcnt.x = ux.w
       |JOIN ucnt uy ON bcnt.y = uy.w, nw, nb
       |WHERE cxy >= 5
       |ORDER BY pmi DESC, bigram LIMIT 25""".stripMargin

  // ---- end-to-end corpus cleaning pipeline ----------------------------

  /** The composed training-data shape: quality gate → exact dedup
    * (keep lowest doc_id) → per-language corpus stats. One narrow scan,
    * one window, one aggregation — the operators above chained the way
    * a pipeline actually uses them.
    */
  private def cleanPipeline(s: SparkSession, d: String): DataFrame = {
    val gated = withWords(documents(s, d))
      .withColumn("n_words", expr("size(words)").cast("long"))
      .filter(col("n_words") >= 50)
    // keep-first as a partial-aggregatable min(struct), not a window:
    // window partitionBy(content) sends EVERY copy of a duplicated text
    // to one task — the input shape dedup exists for (a boilerplate doc
    // duplicated 10^9 times) is exactly the one that straggles it.
    // min over a doc_id-first struct picks the same keeper row with
    // map-side combine, so the hot content key costs one partial per
    // partition instead of one global sort task.
    gated
      .groupBy(md5(col("text")).as("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_words"),
        length(col("text")).as("n_chars"))).as("keep"))
      .groupBy(col("keep.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep.n_words")).as("total_words"),
        sum(col("keep.n_chars").cast("long")).as("total_chars"))
      .orderBy("lang")
  }

  private val cleanPipelineOracle =
    s"""WITH $wordsCte,
       |gated AS (
       |  SELECT doc_id, lang, len(words)::BIGINT AS n_words, length(text) AS nc,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM docs WHERE len(words) >= 50)
       |SELECT lang, count(*) AS n_docs, sum(n_words)::BIGINT AS total_words,
       |  sum(nc)::BIGINT AS total_chars
       |FROM gated WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin

  // ---- full pipeline: gate → transitive dedup → scrub → stats ---------

  /** The round-3 composed pipeline: quality gate (>= 50 units) →
    * transitive near-dup removal (keep each CC cluster's canonical
    * doc) → PII scrub accounting → per-language corpus stats. Chains
    * the CC label table, the gate projection, and the scrub regexes the
    * way a real corpus build runs them: one narrow scan for the
    * metrics, the tiny (doc_id, cluster_id) table joined in, one final
    * aggregation.
    *
    * Round 17 — the unsegmented story: the corpus unions the planted
    * CJK docs (lang `xx`) and the length gate ROUTES per script class
    * ([[ScriptRouting]], the CC edge routing one consumer up): a latin
    * doc's unit is the ASCII word (exactly the old gate — real fixture
    * docs are all latin, so their rows are unchanged), an unsegmented
    * doc's unit is the `\p{L}` letter (a CJK doc is ONE word, so a
    * word gate would silently drop every unsegmented doc before dedup
    * could even see it), a letterless doc has 0 units and drops. The
    * CC labels now carry the char-base edges, so the planted CJK
    * near-dup non-keepers are REMOVED here — the round-16 verdict's
    * "found but never removed" gap, closed end to end under the
    * oracle (DedupSoundnessSpec pins the kept/dropped ids).
    */
  private def pipelineDedup(s: SparkSession, d: String): DataFrame = {
    val keepers = Dedup.ccLabels(s, d)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    ScriptRouting.corpus(s, d, Dedup.CJK_NEARDUP_DOCS, "lang" -> lit("xx"))
      .withColumn("words", expr("filter(split(text, '[^a-z]+'), x -> x <> '')"))
      .withColumn("n_words", expr("size(words)").cast("long"))
      .withColumn("sq", ScriptRouting.squeezedLetters(col("text")))
      .withColumn("n_units",
        when(ScriptRouting.unsegmented(col("sq")),
          length(col("sq")).cast("long"))
          .otherwise(col("n_words")))
      .filter(col("n_units") >= 50)
      .join(keepers, "doc_id")
      .withColumn("n_emails",
        expr("size(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+', 0))")
          .cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_units").as("total_words"),
        sum("n_emails").as("emails_removed"))
      .orderBy("lang")
  }

  private def pipelineDedupOracle: String =
    s"""WITH RECURSIVE ${Dedup.ccOracleCtes},
       |clusters AS (
       |  SELECT doc_id, min(lbl)::BIGINT AS cluster_id
       |  FROM reach GROUP BY doc_id),
       |${ScriptRouting.corpusSql(Dedup.CJK_NEARDUP_DOCS, "pcorpus",
            Seq("lang" -> ((_: String) => "'xx'")))},
       |pm AS (
       |  SELECT doc_id, lang, text,
       |    len(list_filter(string_split_regex(text, '[^a-z]+'), x -> x <> ''))::BIGINT
       |      AS n_words,
       |    ${ScriptRouting.sqSql} AS sq
       |  FROM pcorpus),
       |pu AS (
       |  SELECT doc_id, lang, text,
       |    CASE WHEN ${ScriptRouting.unsegmentedSql("sq")}
       |      THEN length(sq)::BIGINT ELSE n_words END AS n_units
       |  FROM pm),
       |gated AS (
       |  SELECT u.doc_id, u.lang, u.n_units,
       |    len(regexp_extract_all(u.text, '[a-z0-9._-]+@[a-z0-9.-]+'))::BIGINT
       |      AS n_emails
       |  FROM pu u JOIN clusters c
       |    ON u.doc_id = c.doc_id AND u.doc_id = c.cluster_id
       |  WHERE u.n_units >= 50)
       |SELECT lang, count(*) AS n_docs, sum(n_units)::BIGINT AS total_words,
       |  sum(n_emails)::BIGINT AS emails_removed
       |FROM gated GROUP BY lang ORDER BY lang""".stripMargin

  // ---- heavy hitters (frequent tokens) --------------------------------

  /** Misra–Gries summary size: guarantees every token with global
    * frequency > N/HH_K survives some partition's summary, so the
    * candidate union is a SUPERSET of the true heavy hitters and the
    * exact recount makes the final answer exact.
    */
  private val HH_K = 200

  /** Frequent tokens above a 1/[[HH_K]] corpus share — the stopword /
    * boilerplate-token discovery pass a corpus pipeline runs before
    * quality scoring (stopword ratios) and collocation mining.
    *
    * Two-pass mergeable-summary shape — the 100 TB design, not the
    * naive one: a single exact `groupBy(word)` shuffles the ENTIRE
    * token multiset (≈ corpus size); here pass 1 runs a per-partition
    * Misra–Gries sketch (k counters, `mapPartitions` — genuine
    * per-partition imperative state, the documented exception to the
    * no-RDD rule) and ships ≤ k WORDS per partition, and pass 2
    * recounts ONLY the candidate set via a broadcast semi-join —
    * per-partition partial counts of ≤ k keys, so both shuffles are
    * O(partitions · k), independent of corpus size. The MG pigeonhole
    * argument (count(w) > N/k ⇒ count_p(w) > n_p/k in some partition
    * ⇒ w survives that partition's sketch) keeps the candidate set a
    * superset of the truth; the recount makes the output EXACT and
    * partitioning-independent — which is why a DuckDB oracle can
    * hash-match it even though the intermediate sketch is not
    * deterministic.
    */
  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def words = withWords(documents(s, d))
      .select(explode(col("words")).as("word")).as[String]
    val cand = words.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        counters.get(w) match {
          case Some(c) => counters(w) = c + 1
          case None if counters.size < HH_K => counters(w) = 1L
          case None =>
            // decrement-all step; drop exhausted counters
            counters.filterInPlace((_, c) => c > 1)
              .mapValuesInPlace((_, c) => c - 1)
            ()
        }
      }
      counters.keysIterator
    }.toDF("word").distinct()
    val tot = words.groupBy().agg(count(lit(1)).as("n_tok"))
    words.join(broadcast(cand), "word")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .filter(col("n") * HH_K > col("n_tok"))
      .select(col("word"), col("n"),
        expr("(n * 1000000) div n_tok").as("share_ppm"))
      .orderBy(desc("n"), col("word"))
  }

  private val heavyHittersOracle =
    s"""WITH $wordsCte,
       |tok AS (SELECT unnest(words) AS word FROM docs),
       |tot AS (SELECT count(*) AS n_tok FROM tok)
       |SELECT word, count(*) AS n,
       |  CAST((count(*) * 1000000) // max(n_tok) AS BIGINT) AS share_ppm
       |FROM tok, tot
       |GROUP BY word
       |HAVING count(*) * $HH_K > max(n_tok)
       |ORDER BY n DESC, word""".stripMargin

  // ---- BPE vocabulary learning ----------------------------------------

  private val BPE_MERGES = 10

  /** Byte-pair-encoding merge learning over the corpus vocabulary — the
    * tokenizer-training stage of an LLM data pipeline, run as [[BPE_MERGES]]
    * rounds: count adjacent symbol pairs weighted by word frequency
    * (one partial→final aggregation over the vocab table), take the
    * argmax pair (count desc, then lexicographic — a 1-row
    * TakeOrderedAndProject collected to the driver, the CC-loop 1-row
    * discipline), and apply the merge with two passes of
    * boundary-delimited LITERAL string `replace` over space-joined
    * symbol sequences. The output is a local relation of the learned
    * merge rows — see the eager-sink note on [[bpeRounds]] for why the
    * winner is sunk per round instead of composed lazily.
    *
    * The merge rewrite is exact and engine-portable by construction:
    * sequences are padded with one space each side, the pattern
    * `' a b '` can only match at token boundaries, and both engines
    * implement `replace` as leftmost non-overlapping scan — two passes
    * make adjacent chains (`a b a b`) merge like the canonical greedy
    * pass. The DuckDB oracle unrolls the identical ten rounds as CTEs.
    *
    * Scale shape: everything iterates over the VOCABULARY (distinct
    * words + frequencies), not the corpus — the corpus is touched once
    * to build word counts. Each round is checkpointed (CC discipline)
    * so the optimizer unit stays constant-size across rounds.
    */
  /** Each round's 1-row argmax is SUNK EAGERLY to the driver (the
    * iterative-loop discipline the CC fixpoint already uses: collecting
    * a 1-row frame per round is O(rounds) driver traffic, not a
    * distributed-operator smell), which is what makes a realistic
    * merge count feasible: the collected winner rewrites the vocab
    * through LITERAL patterns — no broadcast join, no lineage from the
    * winner back into the round's blocks — so EVERY round's checkpoint
    * blocks are released as soon as the next round has materialized
    * from them, train path included. Rounds 1–12 retained the train
    * path's blocks by contract (the per-round `bests` frames referenced
    * them lazily) and BpeLadderBench measured the cost: retained-RDD
    * block-manager/scheduler bookkeeping grew the per-round constant 3×
    * by round 1000 (0.84 s/round, BPE_LADDER.json r12 arm) — a 32k-merge
    * production train was ~7.5 h of pure bookkeeping. With the eager
    * sink the per-round constant is flat (see the replaced
    * BPE_LADDER.json), because live state per round is exactly one
    * checkpointed vocab plus one 1-row local result.
    */
  /** Trains run this session — the memo's observability hook (specs
    * assert N consumers cost exactly one train).
    */
  private[graft] val bpeTrainRuns = new java.util.concurrent.atomic.AtomicLong

  /** One train per (session, sfDir, merge count) — the
    * eventSpine/simhashTable memo discipline applied to the most
    * expensive derivation in the module: four consumers (train report,
    * replay encode, rank encode, doc-token counter) each replayed the
    * whole train before this, which at the contract's 10 merges is a
    * second per consumer but at a 32k production vocab is ~28 min of
    * per-round driver jobs EACH (BPE_ENCODE.json pricing). The memoized
    * triple is two driver-local values plus the final-vocab frame (one
    * lazy rewrite over the last retained checkpoint), so the only
    * session-lifetime state is that checkpoint — released with the
    * triple by the session store ([[graft.Materialize.clear]]) like
    * every other memo. At cluster scale the equivalent is training once
    * and SHIPPING the merge list —
    * [[writeTokenizer]]/[[readTokenizer]] below are that path.
    */
  private[graft] def bpeRounds(s: SparkSession, d: String,
      merges: Int = BPE_MERGES): (DataFrame, DataFrame, Seq[(String, String)]) =
    graft.Materialize.memo(s, d, s"text.bpe@$merges")(trainBpe(s, d, merges))

  /** @return (learned-merge rows as a local relation, final vocab
    *         frame, learned merge pairs in rank order — already
    *         driver-local from the per-round argmax sink, so exposing
    *         them adds no driver traffic; the rank-indexed encoder
    *         consumes them as its merge table)
    */
  private def trainBpe(s: SparkSession, d: String,
      merges: Int): (DataFrame, DataFrame, Seq[(String, String)]) = {
    bpeTrainRuns.incrementAndGet()
    val seed = withWords(documents(s, d))
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq",
        concat(rtrim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" </w>")))
    val pairsOf = (v: DataFrame) =>
      v.filter(size(split(col("seq"), " ")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(split(seq, ' ')) - 1),
            |  i -> named_struct(
            |    'a', element_at(split(seq, ' '), i),
            |    'b', element_at(split(seq, ' '), i + 1)))""".stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("freq"))
    // a failed round (cancelled job group, lost executor) leaves through
    // the scope, which frees the held round checkpoint; at exit the last
    // round, which the final vocab reads, goes to the store
    graft.Materialize.rounds { rounds =>
      var vocab = seed
      val won = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      for (k <- 1 to merges) {
        val vc = rounds.hold(vocab)
        // vc is materialized eagerly and the previous round's winner is
        // already a local row, so the prior round's blocks are now
        // unreachable from ANY live lineage — release them
        rounds.release(vocab)
        pairsOf(vc)
          .groupBy("a", "b").agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1).collect().headOption match {
          case Some(r) =>
            val (a, b) = (r.getString(0), r.getString(1))
            won += org.apache.spark.sql.Row(k, a, b, a + b, r.getLong(2))
            // boundary-delimited literal rewrite: ' a b ' can only match
            // at token boundaries, and two leftmost-non-overlapping
            // passes merge adjacent chains ('a b a b') like the canonical
            // greedy pass — identical to the oracle's replace chain
            val pat = lit(s" $a $b ")
            val rep = lit(s" $a$b ")
            vocab = vc
              .withColumn("r1",
                org.apache.spark.sql.functions.replace(
                  concat(lit(" "), col("seq"), lit(" ")), pat, rep))
              .withColumn("r2",
                org.apache.spark.sql.functions.replace(col("r1"), pat, rep))
              .select(col("word"), col("freq"),
                expr("substring(r2, 2, length(r2) - 2)").as("seq"))
          case None =>
            // fully merged: the recurrence stays TOTAL — remaining rounds
            // pass the vocab through unchanged and emit no merge row,
            // exactly the oracle's NULL-subquery pass-through behavior
            vocab = vc
        }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("merge_rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("pa",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("pb",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("merged",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false)))
      import scala.jdk.CollectionConverters._
      (s.createDataFrame(won.toSeq.asJava, schema), vocab,
        won.toSeq.map(r => (r.getString(1), r.getString(2))))
    }
  }

  private def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeRounds(s, d)._1.orderBy("merge_rank")

  /** The tokenizer's APPLY path: after the ten learned merges, every
    * word's symbol sequence IS its encoding — this aggregates the
    * corpus-wide compression those merges buy, bucketed by word
    * initial so the oracle checks the rewrite across a partition of
    * the vocabulary rather than one global sum. tok_before counts the
    * seed symbols (chars + the `</w>` marker) weighted by corpus
    * frequency; tok_after counts the merged symbols the same way.
    */
  private def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeRounds(s, d)._2
      .groupBy(substring(col("word"), 1, 1).as("initial"))
      .agg(count(lit(1)).as("n_words"),
        sum((length(col("word")) + 1).cast("long") * col("freq"))
          .as("tok_before"),
        sum(size(split(col("seq"), " ")).cast("long") * col("freq"))
          .as("tok_after"))
      .orderBy("initial")

  /** The PRODUCTION apply path: the same learned merges, applied by the
    * rank-indexed greedy encoder
    * ([[org.apache.spark.sql.graft.BpeRankEncode]]) instead of replay.
    * Replay re-derives each merge as a corpus-vocab-wide rewrite round
    * — O(merges) jobs per pass, ~28 min at a 32k-merge production
    * vocab at the measured 0.05 s/round constant, regardless of corpus
    * size — where the rank encoder hashes the merge list once and
    * encodes each word by repeatedly merging its lowest-ranked
    * adjacent pair: one codegen'd scan stage, cost independent of
    * merge-list length. Greedy-by-rank ≡ sequential replay (a merge
    * only creates pairs involving its output symbol, whose consuming
    * rules are strictly later-ranked — see the BpeEncoder scaladoc),
    * so this query's oracle IS the replay oracle: the green row
    * re-proves the encoder identity on the real corpus every run.
    *
    * The aggregation mirrors [[bpeEncode]] (same schema, same
    * initial-bucketed compression report) so the two rows certify the
    * same numbers through two different execution strategies.
    */
  private def bpeEncodeRank(s: SparkSession, d: String): DataFrame = {
    val merges = bpeRounds(s, d)._3
    withWords(documents(s, d))
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq", org.apache.spark.sql.graft.BpeColumns
        .bpeRankEncode(col("word"), merges))
      .groupBy(substring(col("word"), 1, 1).as("initial"))
      .agg(count(lit(1)).as("n_words"),
        sum((length(col("word")) + 1).cast("long") * col("freq"))
          .as("tok_before"),
        sum(size(split(col("seq"), " ")).cast("long") * col("freq"))
          .as("tok_after"))
      .orderBy("initial")
  }

  /** Identical recurrence, rounds unrolled as CTEs; `b$k` is the 1-row
    * argmax each round and the rewrite uses it via scalar subqueries.
    * Every vocab CTE is MATERIALIZED: each is referenced twice (pair
    * counting + rewrite), and DuckDB's default inlining would expand
    * the chain into 2^rounds scans of the parquet.
    */
  private def bpeRoundsCte(emitLast: Boolean): String =
    (1 to BPE_MERGES).map { k =>
      val vPrev = if (k == 1) "v0" else s"v${k - 1}"
      val rewrite =
        if (k == BPE_MERGES && !emitLast) "" // train never reads it
        else s""",
           |v$k AS MATERIALIZED (
           |  SELECT word, freq,
           |    coalesce(substring(r2, 2, length(r2) - 2), seq) AS seq FROM (
           |    SELECT word, freq, seq,
           |      replace(r1, (SELECT ' '||a||' '||b||' ' FROM b$k),
           |                  (SELECT ' '||a||b||' ' FROM b$k)) AS r2
           |    FROM (SELECT word, freq, seq,
           |        replace(' '||seq||' ',
           |          (SELECT ' '||a||' '||b||' ' FROM b$k),
           |          (SELECT ' '||a||b||' ' FROM b$k)) AS r1
           |      FROM $vPrev)))""".stripMargin
      s"""p$k AS (
         |  SELECT t[i] AS a, t[i+1] AS b, freq
         |  FROM (SELECT string_split(seq, ' ') AS t, freq FROM $vPrev),
         |       unnest(generate_series(1, len(t) - 1)) AS u(i)),
         |b$k AS MATERIALIZED (
         |  SELECT a, b, sum(freq) AS n FROM p$k
         |  GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)$rewrite""".stripMargin
    }.mkString(",\n")

  private def bpeSeedCte: String =
    s"""$wordsCte,
       |v0 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq,
       |    rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS seq
       |  FROM (SELECT unnest(words) AS word FROM docs) GROUP BY word)""".stripMargin

  /** Per-document BPE token counts under the contract vocab — the
    * corpus-pass shape of the rank encoder: ONE codegen'd
    * `bpe_rank_count(text)` call per document (tokenize + greedy
    * merge + sum inside the scan stage; no explode, no join, no
    * shuffle before the terminal sort). This is what a pipeline runs
    * per corpus pass to budget sequence packing, and it puts the
    * whole-text entry point of the encoder under the oracle gate —
    * [[bpeEncodeRank]] certifies the per-WORD path; this certifies
    * the tokenize-and-sum composition. The oracle replays the same
    * ten merges, joins each document's words to the final vocab's
    * symbol counts, and sums per document — wordless docs come
    * through the left join as 0, matching the encoder's empty scan.
    *
    * At a production vocab the per-doc cost is flat in merge count
    * (BPE_ENCODE.json: ~1 µs/doc at both 10 and 32,768 trained
    * rounds), so the query's scale shape is exactly the corpus scan.
    */
  private def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
    val merges = bpeRounds(s, d)._3
    documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.BpeColumns
          .bpeRankCount(col("text"), merges).as("n_bpe"))
      .orderBy("doc_id")
  }

  // ---- tokenizer store: the trained-merge artifact ----------------------

  /** Parameter stamp persisted beside every tokenizer table — the
    * signature-store recipe one module over: a merge list is only
    * usable by an encoder implementing the SAME seed tokenization and
    * occurrence semantics (two-pass boundary-consuming replay — see
    * BpeEncoder), so the stamp pins both plus the storage schema, and
    * [[readTokenizer]] refuses a mismatch loudly instead of silently
    * encoding with the wrong algebra. Canonical string: equality of the
    * serialized form IS equality of the parameters. The merge COUNT is
    * deliberately data, not stamp — any prefix of a merge list is a
    * valid smaller tokenizer.
    */
  private[graft] val tokenizerMeta: String =
    """{"format":1,"seed":"ascii-lower-word+</w>","apply":"two-pass-boundary-consuming-replay","schema":"merge_rank int, pa string, pb string"}"""

  private val TOK_META_FILE = "_graft_meta.json"

  private def tokFs(s: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs0 = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fs = fs0 match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    (fs, p)
  }

  /** Persist a trained merge list as a stamped parquet table: the
    * versioned artifact an encode-only pipeline LOADS instead of
    * re-deriving — at a 32k vocab that's ~28 min of replay jobs per
    * consumer avoided, and (more importantly at 100 TB) the tokenizer
    * a training corpus was packed with is frozen, auditable bytes, not
    * a recomputation that silently drifts when the corpus does. One
    * parquet file (a merge list is KB-scale at any real vocab) plus
    * the [[tokenizerMeta]] sidecar.
    */
  def writeTokenizer(s: SparkSession, dir: String,
      merges: Seq[(String, String)]): Unit = {
    import s.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("merge_rank", "pa", "pb")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val (fs, p) = tokFs(s, dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, TOK_META_FILE), true)
    try out.write(tokenizerMeta.getBytes("UTF-8")) finally out.close()
  }

  /** Load a stamped tokenizer: stamp-checked (absent/mismatched stamps
    * name the remedy), rank-ordered, and validated by BpeEncoder's
    * soundness pass (duplicate outputs / out-of-order consumers fail
    * fast at load, not as silent replay divergence mid-encode).
    */
  def readTokenizer(s: SparkSession, dir: String): Seq[(String, String)] = {
    val (fs, p) = tokFs(s, dir)
    val metaPath = new org.apache.hadoop.fs.Path(p, TOK_META_FILE)
    if (!fs.exists(metaPath))
      sys.error(s"tokenizer table $dir has no $TOK_META_FILE parameter stamp: " +
        "either it was not written by writeTokenizer, or it predates " +
        "stamping. Re-export it, or — after verifying the seed/apply " +
        s"semantics match — stamp it with a $TOK_META_FILE containing: " +
        tokenizerMeta)
    val in = fs.open(metaPath)
    val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    if (found != tokenizerMeta)
      sys.error(s"tokenizer table $dir was built with different semantics " +
        s"and would silently mis-encode if used: its stamp is\n  $found\n" +
        s"but this build requires\n  $tokenizerMeta\nRe-export it with " +
        "writeTokenizer.")
    val merges = s.read.parquet(dir)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    // construct-and-discard runs BpeEncoder's merge-list validation
    new org.apache.spark.sql.graft.BpeEncoder(merges.toArray)
    merges
  }

  /** Encode-only entry point: per-document BPE token counts under a
    * STORED tokenizer — the shape an encode pipeline actually runs
    * (load KB of merges, one codegen'd scan over the corpus; no
    * training jobs anywhere). Mirrors [[bpeDocTokens]], which derives
    * its merges from the contract train.
    */
  def bpeDocTokensWith(s: SparkSession, d: String,
      tokenizerDir: String): DataFrame = {
    val merges = readTokenizer(s, tokenizerDir)
    documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.BpeColumns
          .bpeRankCount(col("text"), merges).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** The LOAD-NOT-DERIVE encode path under the contract (round-16
    * advice #3): train once (memoized), EXPORT the merges as a stamped
    * parquet tokenizer table ([[writeTokenizer]]), load them back
    * through the stamp gate + BpeEncoder soundness validation
    * ([[readTokenizer]]), and encode the corpus with the stored
    * artifact ([[bpeDocTokensWith]]). The oracle is the replay oracle
    * shared with [[bpeDocTokens]], so a green row proves the
    * store → stamp-check → validate → encode chain bit-equal to the
    * derive path end to end — the artifact round trip itself, not just
    * the in-memory merges (TokenizerStore's spec arm additionally pins
    * the stamp REFUSAL behavior on absent/mismatched sidecars).
    *
    * The export lands in a per-sfDir temp directory (deterministic
    * name, overwritten per run) — harness plumbing only; a pipeline
    * points `writeTokenizer` at durable storage and ships the KB-scale
    * table to every encode job, which is the whole point: no training
    * jobs anywhere near the 100 TB encode pass.
    */
  private def bpeDocTokensStored(s: SparkSession, d: String): DataFrame = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_tok_contract_" +
        java.util.UUID.nameUUIDFromBytes(d.getBytes("UTF-8")).toString)
      .getAbsolutePath
    writeTokenizer(s, dir, bpeRounds(s, d)._3)
    bpeDocTokensWith(s, d, dir)
  }

  private def bpeDocTokensOracle: String =
    s"""WITH $bpeSeedCte,
       |${bpeRoundsCte(emitLast = true)},
       |dw AS (SELECT doc_id, unnest(words) AS word FROM docs),
       |enc AS (
       |  SELECT word, len(string_split(seq, ' '))::BIGINT AS n
       |  FROM v$BPE_MERGES)
       |SELECT d.doc_id, coalesce(sum(enc.n), 0)::BIGINT AS n_bpe
       |FROM documents d
       |LEFT JOIN dw ON d.doc_id = dw.doc_id
       |LEFT JOIN enc ON dw.word = enc.word
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  private def bpeTrainOracle: String = {
    val out = (1 to BPE_MERGES).map { k =>
      s"""SELECT $k AS merge_rank, a AS pa, b AS pb, a||b AS merged,
         |  CAST(n AS BIGINT) AS n FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeSeedCte,
       |${bpeRoundsCte(emitLast = false)}
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_rank""".stripMargin
  }

  private def bpeEncodeOracle: String =
    s"""WITH $bpeSeedCte,
       |${bpeRoundsCte(emitLast = true)}
       |SELECT substring(word, 1, 1) AS initial, count(*) AS n_words,
       |  CAST(sum((length(word) + 1) * freq) AS BIGINT) AS tok_before,
       |  CAST(sum(len(string_split(seq, ' ')) * freq) AS BIGINT) AS tok_after
       |FROM v$BPE_MERGES GROUP BY initial ORDER BY initial""".stripMargin

  // ---- case-folded dedup key (NFC + lower) ----------------------------

  /** Planted Latin-script docs for the case-folded key: NFC/NFD and
    * case variants of the same logical strings, chosen INSIDE the
    * script class where the engines' case-mapping tables agree
    * (Latin-1 letters: simple and full mappings coincide), so the
    * oracle certifies the fold pipeline rather than comparing Unicode
    * tables. The divergent classes (Turkish dotted I, Greek final
    * sigma) are deliberately absent here — UnicodeFoldSpec pins those
    * per engine. Spelled in \\u escapes: the byte sequences ARE the
    * test.
    */
  private[graft] val LATIN_FOLD_DOCS: Seq[(Long, String)] = Seq(
    // four spellings of one logical key "caf\u00e9 cr\u00e8me":
    // NFC mixed case, NFD mixed case, NFC upper, NFC lower
    -11L -> "Caf\u00e9 Cr\u00e8me",
    -12L -> "Cafe\u0301 Cre\u0300me",
    -13L -> "CAF\u00c9 CR\u00c8ME",
    -14L -> "caf\u00e9 cr\u00e8me",
    // two spellings (NFC / NFD umlauts) of "\u00fcber m\u00fcller"
    -15L -> "\u00dcber M\u00fcller",
    -16L -> "U\u0308ber Mu\u0308ller",
    // the sharp-s trap: lower() is NOT case folding in either engine,
    // so these two stay SEPARATE keys — the agreement worth pinning
    -17L -> "Stra\u00dfe",
    -18L -> "STRASSE",
    // ASCII control: the fold is the identity
    -19L -> "plain ascii control")

  /** The multilingual dedup key, end to end: NFC normalization (the
    * custom `nfc` expression - java.text.Normalizer semantics, identity
    * without allocation on ASCII rows) then `lower()`, over the corpus
    * plus [[LATIN_FOLD_DOCS]], grouped into collision sets. This is the
    * ingest-order lesson UnicodeFoldSpec teaches made into an operator:
    * normalize FIRST (no built-in exists downstream), fold second, and
    * keep the fold inside script classes where the engines agree. The
    * corpus rows are pure ASCII (Round12Spec), so at 100 TB the key is
    * a row-local byte scan for the overwhelming majority of rows and a
    * single normalize for the rest - no shuffle beyond the final
    * aggregation. The contract query groups by the folded TEXT so the
    * oracle compares the actual key bytes; a production pipeline
    * hashes after folding - md5(lower(nfc(text))) dropped into
    * [[Dedup]]'s exact-dedup path - so the shuffle carries 16-byte
    * digests, never document bodies (the same digest-not-content rule
    * every dedup shuffle in this repo follows).
    */
  private def casefoldKey(s: SparkSession, d: String): DataFrame =
    ScriptRouting.corpus(s, d, LATIN_FOLD_DOCS)
      .select(col("doc_id"), expr("lower(nfc(text))").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("first_doc")

  private def casefoldKeyOracle: String =
    s"""WITH ${ScriptRouting.corpusSql(LATIN_FOLD_DOCS)},
       |keyed AS (
       |  SELECT doc_id, lower(nfc_normalize(text)) AS k FROM corpus)
       |SELECT k, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM keyed GROUP BY k ORDER BY first_doc""".stripMargin

  // ---- statistical LM familiarity score --------------------------------

  /** CCNet-style statistical quality score, the core of both
    * `text_lm_score` rows: each row of `keys` (doc_id first) scored by
    * how familiar its `bigrams` rows (doc_id, bigram) are to a bigram
    * model trained on those same rows (the contract instances; a
    * production pipeline points the model side at a curated reference
    * corpus, same shape). The word row passes word bigrams, the char
    * row character bigrams of the routed squeeze. The
    * published recipe scores with LM log-perplexity; this operator uses
    * the mean corpus-frequency of the document's bigrams instead —
    * monotone in the same signal (rare-bigram documents score low) but
    * built ONLY from exact integer sums and one final double division,
    * so the score is bit-identical across engines (ln() is
    * correctly-rounded nowhere; IEEE division is everywhere).
    *
    * Scale shape: the model is vocabulary-sized (bigram type count
    * grows with the corpus), so the doc-bigram → model join is a
    * shuffle join — but it shuffles a FIXED-WIDTH 16-hex md5 digest of
    * the bigram, never the bigram text (the digest-not-content
    * discipline of the dedup family). 64-bit truncation is CONSISTENT
    * across engines by construction — both truncate identically, so
    * the oracle compare cannot drift — but not collision-free at the
    * extreme: by the birthday bound collisions become likely around a
    * few billion bigram TYPES, where colliding bigrams silently merge
    * their counts (a bounded statistical smear on a frequency model,
    * not a correctness break; a pipeline at billion-type vocabularies
    * should widen to the full 32-hex digest — still fixed-width, same
    * shape). Both aggregations are partial (map-side combine on digest
    * / doc_id). A key with no bigram survives the left join with
    * n_bigrams = 0 and a NULL familiarity (never a 0/0).
    */
  private def familiarityOf(keys: DataFrame, bigrams: DataFrame): DataFrame = {
    val bg = bigrams
      .select(col("doc_id"), substring(md5(col("bigram")), 1, 16).as("bh"))
    val model = bg.groupBy("bh").agg(count(lit(1)).as("cnt"))
    val perDoc = bg.join(model, "bh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("cnt").as("fam_sum"))
    keys.join(perDoc, Seq("doc_id"), "left")
      .select(keys.columns.map(col).toSeq ++ Seq(
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("fam_sum"), lit(0L)).as("fam_sum"),
        (col("fam_sum").cast("double") / col("n_bigrams")).as("familiarity")): _*)
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[familiarityOf]]: `grams` is the bigram-list SQL
    * over each row of `src`, and the report keeps `keyCols` of every
    * row of table `keys`.
    */
  private def familiarityOracle(ctes: String, src: String, grams: String,
      keys: String, keyCols: String*): String =
    s"""WITH $ctes,
       |bg AS (
       |  SELECT doc_id,
       |    substr(md5(unnest($grams)), 1, 16) AS bh
       |  FROM $src),
       |model AS (SELECT bh, count(*) AS cnt FROM bg GROUP BY bh),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(cnt)::BIGINT AS fam_sum
       |  FROM bg JOIN model USING (bh) GROUP BY doc_id)
       |SELECT ${keyCols.map("d." + _).mkString(", ")},
       |  coalesce(n_bigrams, 0) AS n_bigrams,
       |  coalesce(fam_sum, 0) AS fam_sum,
       |  fam_sum::DOUBLE / n_bigrams AS familiarity
       |FROM $keys d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoreOf(documents(s, d))

  /** The familiarity pipeline over an arbitrary (doc_id, lang, text)
    * frame — the seam TextSoundnessSpec scores planted corpora through.
    * Word bigrams come from the codegen'd
    * [[org.apache.spark.sql.graft.TextColumns.wordNGrams]] byte pass;
    * its short-input fallback emits the whole-doc join (a single word,
    * or "" for wordless text) as one element, and a true bigram always
    * contains exactly one space, so the row filter is the exact twin of
    * the oracle's CASE len(words) >= 2 branch.
    */
  private[graft] def lmScoreOf(docs: DataFrame): DataFrame =
    familiarityOf(docs.select("doc_id", "lang"),
      docs.select(col("doc_id"),
          explode(org.apache.spark.sql.graft.TextColumns
            .wordNGrams(col("text"), 2)).as("bigram"))
        .filter(col("bigram").contains(" ")))

  private val lmScoreOracle =
    familiarityOracle(wordsCte, "docs",
      """CASE WHEN len(words) >= 2
        |      THEN list_transform(range(len(words)-1),
        |        i -> words[i+1] || ' ' || words[i+2])
        |      ELSE [] END""".stripMargin,
      "documents", "doc_id", "lang")

  /** [[lmScoreOf]] over the routed unsegmented docs of corpus ∪ the
    * planted multilingual docs: a CJK document tokenizes to at most one
    * `[a-z]` word, so its word familiarity is NULL (TextSoundnessSpec
    * pins the miss); here the model counts CHARACTER bigrams of the
    * `\p{L}` squeeze (CCNet's char-level tier for CJK). The planted
    * near-dup pair shares nearly all bigrams (high familiarity) while
    * the unrelated doc scores low.
    */
  private def lmScoreChars(s: SparkSession, d: String): DataFrame =
    lmScoreCharsOf(ScriptRouting.corpus(s, d,
      LETTER_TOKEN_DOCS ++ LANGID_SCRIPT_DOCS ++ Dedup.CJK_NEARDUP_DOCS))

  /** The routed char-bigram familiarity over an arbitrary
    * (doc_id, text, ...) frame — the spec seam. CharNGrams' short-input
    * fallback (one whole-squeeze element) is dropped by an exact-length
    * row filter, the twin of the oracle's `length(sq) >= 2` CASE.
    */
  private[graft] def lmScoreCharsOf(docs: DataFrame): DataFrame = {
    val routed = ScriptRouting.routed(docs)
    familiarityOf(routed.select("doc_id"),
      routed.select(col("doc_id"),
          explode(org.apache.spark.sql.graft.TextColumns
            .charNGrams(col("sq"), 2)).as("bigram"))
        .filter(length(col("bigram")) === 2))
  }

  private def lmScoreCharsOracle: String =
    familiarityOracle(ScriptRouting.routedSql(
        LETTER_TOKEN_DOCS ++ LANGID_SCRIPT_DOCS ++ Dedup.CJK_NEARDUP_DOCS),
      "routed",
      """CASE WHEN length(sq) >= 2
        |      THEN list_transform(range(length(sq)-1),
        |        i -> substr(sq, i+1, 2))
        |      ELSE [] END""".stripMargin,
      "routed", "doc_id")

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens"      -> tokens _,
    "text_tokens_unicode" -> tokensUnicode _,
    "text_letter_tokens" -> letterTokensQ _,
    "text_script_route" -> scriptRoute _,
    "text_casefold_key" -> casefoldKey _,
    "text_quality"     -> quality _,
    "text_quality_chars" -> qualityChars _,
    "text_langid"      -> langid _,
    "text_langid_script" -> langidScript _,
    "text_fingerprint" -> fingerprint _,
    "text_fingerprint_chars" -> fingerprintChars _,
    "text_tfidf"       -> tfidf _,
    "text_ngrams"      -> ngrams _,
    "text_collocations" -> collocations _,
    "text_pii_scrub"   -> piiScrub _,
    "text_pipeline_dedup" -> pipelineDedup _,
    "text_clean_pipeline" -> cleanPipeline _,
    "text_heavy_hitters"  -> heavyHitters _,
    "text_bpe_train"      -> bpeTrain _,
    "text_bpe_encode"     -> bpeEncode _,
    "text_bpe_encode_rank" -> bpeEncodeRank _,
    "text_bpe_doc_tokens" -> bpeDocTokens _,
    "text_bpe_doc_tokens_stored" -> bpeDocTokensStored _,
    "text_lm_score"       -> lmScore _,
    "text_lm_score_chars" -> lmScoreChars _,
  )

  val oracles: Map[String, String] = Map(
    "text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS n_alpha_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpe_tokens,
        |  length(text)::BIGINT AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens_unicode" -> tokensUnicodeOracle,
    "text_letter_tokens" -> letterTokensOracle,
    "text_script_route" -> scriptRouteOracle,
    "text_quality"     -> qualityOracle,
    "text_quality_chars" -> qualityCharsOracle,
    "text_langid"      -> langidOracle,
    "text_langid_script" -> langidScriptOracle,
    "text_fingerprint" -> fingerprintOracle,
    "text_fingerprint_chars" -> fingerprintCharsOracle,
    "text_tfidf"       -> tfidfOracle,
    "text_ngrams"      -> ngramsOracle,
    "text_collocations" -> collocationsOracle,
    "text_pii_scrub"   -> piiScrubOracle,
    "text_pipeline_dedup" -> pipelineDedupOracle,
    "text_clean_pipeline" -> cleanPipelineOracle,
    "text_heavy_hitters"  -> heavyHittersOracle,
    "text_bpe_train"      -> bpeTrainOracle,
    "text_bpe_encode"     -> bpeEncodeOracle,
    "text_bpe_encode_rank" -> bpeEncodeOracle,
    "text_bpe_doc_tokens" -> bpeDocTokensOracle,
    "text_bpe_doc_tokens_stored" -> bpeDocTokensOracle,
    "text_casefold_key"   -> casefoldKeyOracle,
    "text_lm_score"       -> lmScoreOracle,
    "text_lm_score_chars" -> lmScoreCharsOracle,
  )
}
