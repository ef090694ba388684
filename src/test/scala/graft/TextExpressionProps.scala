package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Properties for the MinGramHash Catalyst expression: the codegen'd
  * tight-loop result must agree with an obviously-correct Scala
  * reference on arbitrary ASCII inputs (including the short/empty pad
  * path), and the expression's interpreted eval (used off the codegen
  * path, e.g. under constant folding) must agree too.
  */
object TextExpressionProps extends Properties("MinGramHash") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  /** Reference: pad with 8 spaces, min base-31 hash over max(len-7,1)
    * 8-char windows.
    */
  private def reference(s: String): Long = {
    val padded = s + (" " * 8)
    (0 until math.max(s.length - 7, 1)).map { i =>
      padded.slice(i, i + 8).foldLeft(0L)((h, c) => h * 31L + c.toLong)
    }.min
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.const(' ')))
      .map(_.mkString)

  property("codegen'd batch result equals the Scala reference") =
    Prop.forAll(Gen.listOfN(12, asciiText)) { texts =>
      val got = CodegenFrames.collect(CodegenFrames.texts(texts)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.graft.TextColumns.minGramHash(
            org.apache.spark.sql.functions.col("s")).as("h")))
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      texts.zipWithIndex.forall { case (t, i) => got(i) == reference(t) }
    }

  property("interpreted eval equals the Scala reference") =
    Prop.forAll(asciiText) { t =>
      val e = org.apache.spark.sql.graft.MinGramHash(
        org.apache.spark.sql.catalyst.expressions.Literal(t))
      e.eval(null) == reference(t)
    }

  // ---- WordNGrams ------------------------------------------------------

  /** The declarative form every DuckDB oracle (and the pre-expression
    * Spark code) uses — WordNGrams' contract is bit-exact equality with
    * THIS, including the short-input whole-text fallback.
    */
  private def declarativeNGrams(n: Int): String =
    s"""CASE WHEN size(words) >= $n
       |THEN transform(sequence(0, size(words)-$n),
       |  i -> concat_ws(' ', ${(0 until n).map(j => s"words[i+$j]").mkString(", ")}))
       |ELSE array(array_join(words, ' ')) END""".stripMargin

  /** Mixed-content text: lowercase runs plus separators of every class
    * the word regex must treat identically (digits, punctuation, space,
    * uppercase, and a multi-byte char — continuation bytes must separate
    * exactly like `[^a-z]+` does).
    */
  private val mixedText: Gen[String] =
    Gen.listOf(Gen.oneOf(
      Gen.alphaLowerChar, Gen.numChar, Gen.const(' '), Gen.const('.'),
      Gen.const('X'), Gen.const('é')))
      .map(_.mkString)

  property("WordNGrams equals the declarative HOF form for n in 1..9") =
    Prop.forAll(Gen.listOfN(8, mixedText), Gen.choose(1, 9)) { (texts, n) =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(texts)
        .withColumn("words",
          org.apache.spark.sql.functions.expr(
            "filter(split(s, '[^a-z]+'), x -> x <> '')"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(declarativeNGrams(n)).as("want"),
          org.apache.spark.sql.graft.TextColumns.wordNGrams(
            org.apache.spark.sql.functions.col("s"), n).as("got")))
      rows.forall(r => r.getSeq[String](1) == r.getSeq[String](2))
    }

  property("WordNGrams interpreted eval matches its codegen contract on " +
      "edge inputs") = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val cases = Seq(
      "" -> Seq(""),
      "   " -> Seq(""),
      "ab" -> Seq("ab"),
      "ab cd" -> Seq("ab cd"),
      "ab cd ef" -> Seq("ab cd", "cd ef"),
      "a1b c" -> Seq("a b", "b c"))
    Prop(cases.forall { case (in, want) =>
      val got = org.apache.spark.sql.graft.WordNGrams(Literal(in), 2)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      got == want
    })
  }

  // ---- unicode mode ------------------------------------------------------

  /** Multilingual text mixing every class the `\p{L}` scanner must
    * classify: ASCII letters both cases, digits/punct/space delimiters,
    * 2-byte letters (Latin-1, Greek, Cyrillic), a combining mark (Mn —
    * NOT a letter, must split), 3-byte letters (CJK), and a 4-byte
    * supplementary-plane letter (Gothic U+10330).
    */
  private val multilingualText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      5 -> Gen.oneOf(Gen.alphaLowerChar, Gen.alphaUpperChar, Gen.numChar,
        Gen.const(' '), Gen.const('.')).map(_.toString),
      3 -> Gen.oneOf('é', 'ß', 'ω', 'κ', 'ж').map(_.toString),
      1 -> Gen.const("́"), // combining acute (Mn, not a letter)
      2 -> Gen.oneOf('世', '界', '北').map(_.toString),
      1 -> Gen.const("𐌰"))) // U+10330 as a surrogate pair
      .map(_.mkString)

  property("unicode WordNGrams equals the declarative \\p{L} HOF form " +
      "for n in 1..9 on multilingual input") =
    Prop.forAll(Gen.listOfN(8, multilingualText), Gen.choose(1, 9)) { (texts, n) =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(texts)
        .withColumn("words",
          org.apache.spark.sql.functions.expr(
            "filter(split(s, '[^\\\\p{L}]+'), x -> x <> '')"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(declarativeNGrams(n)).as("want"),
          org.apache.spark.sql.graft.TextColumns.wordNGramsU(
            org.apache.spark.sql.functions.col("s"), n).as("got")))
      rows.forall(r => r.getSeq[String](1) == r.getSeq[String](2))
    }

  property("LetterRunTokens equals filter(split('[^\\p{L}]+')) — split " +
      "semantics, empty array on letterless input") =
    Prop.forAll(Gen.listOfN(8, multilingualText)) { texts =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(
          texts :+ "123 .. 456")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(
            "filter(split(s, '[^\\\\p{L}]+'), x -> x <> '')").as("want"),
          org.apache.spark.sql.graft.TextColumns.letterTokens(
            org.apache.spark.sql.functions.col("s")).as("got")))
      rows.forall(r => r.getSeq[String](1) == r.getSeq[String](2))
    }

  property("CharNGrams equals the declarative squeeze-then-window form " +
      "for n in 1..6 on multilingual input") =
    Prop.forAll(Gen.listOfN(8, multilingualText), Gen.choose(1, 6)) { (texts, n) =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(
          texts :+ "42 ..." :+ "机器学习, hello! 语言")
        .withColumn("sq",
          org.apache.spark.sql.functions.expr(
            "regexp_replace(s, '[^\\\\p{L}]+', '')"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(
            s"""CASE WHEN length(sq) >= $n
               |THEN transform(sequence(0, length(sq) - $n),
               |  i -> substring(sq, i + 1, $n))
               |ELSE array(sq) END""".stripMargin).as("want"),
          org.apache.spark.sql.graft.TextColumns.charNGrams(
            org.apache.spark.sql.functions.col("s"), n).as("got")))
      rows.forall(r => r.getSeq[String](1) == r.getSeq[String](2))
    }

  /** Multilingual text including every script class the routing family
    * counts (latin, han, hiragana, katakana, hangul, greek, cyrillic)
    * plus digits, marks, and a supplementary-plane letter.
    */
  private val multiScriptText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      4 -> Gen.oneOf(Gen.alphaLowerChar, Gen.alphaUpperChar, Gen.numChar,
        Gen.const(' '), Gen.const('.')).map(_.toString),
      2 -> Gen.oneOf('é', 'ß', 'ω', 'κ', 'ж', 'Д').map(_.toString),
      1 -> Gen.const("́"), // combining acute (Mn, Script=Inherited)
      2 -> Gen.oneOf('世', '界', '한', '국', 'ひ', 'ら', 'カ', 'ナ').map(_.toString),
      1 -> Gen.const("𐌰"))) // U+10330 Gothic, surrogate pair
      .map(_.mkString)

  property("LetterSqueeze equals regexp_replace('[^\\p{L}]+', '') on " +
      "multilingual input (codegen batch)") =
    Prop.forAll(Gen.listOfN(8, multiScriptText)) { texts =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(
          texts :+ "42 ..." :+ "" :+ "机器学习, hello! 语言")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(
            "regexp_replace(s, '[^\\\\p{L}]+', '')").as("want"),
          org.apache.spark.sql.graft.TextColumns.squeezeLetters(
            org.apache.spark.sql.functions.col("s")).as("got")))
      rows.forall(r => r.getString(1) == r.getString(2))
    }

  property("LetterSqueeze interpreted eval equals the regex reference, " +
      "all-letter input returns the input object") =
    Prop.forAll(multiScriptText) { t =>
      import org.apache.spark.unsafe.types.UTF8String
      val in = UTF8String.fromString(t)
      val out = org.apache.spark.sql.graft.LetterSqueeze.compute(in)
      val want = t.replaceAll("[^\\p{L}]+", "")
      val valueOk = out.toString == want
      val identityOk = (want != t) || t.isEmpty || (out eq in)
      valueOk && identityOk
    }

  property("AsciiLetterCount equals length(regexp_replace('[^a-z]', ''))") =
    Prop.forAll(multiScriptText) { t =>
      val in = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      org.apache.spark.sql.graft.AsciiLetterCount.compute(in) ==
        t.replaceAll("[^a-z]", "").codePointCount(0, t.replaceAll("[^a-z]", "").length)
    }

  private val routedScripts = Seq("latin", "han", "hiragana", "katakana",
    "hangul", "greek", "cyrillic")

  property("ScriptCounts equals the per-class \\p{IsXxx} regexp lengths " +
      "on multilingual input (codegen batch)") =
    Prop.forAll(Gen.listOfN(8, multiScriptText)) { texts =>
      val wants = routedScripts.zipWithIndex.map { case (sc, i) =>
        org.apache.spark.sql.functions.expr(
          s"length(regexp_replace(s, '[^\\\\p{Is${sc.capitalize}}]+', ''))")
          .cast("long").as(s"w$i")
      }
      val gots = routedScripts.indices.map(i =>
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.col("sc"), i + 1).as(s"g$i"))
      val rows = CodegenFrames.collect(CodegenFrames.texts(
          texts :+ "" :+ "한국 世界 ひらカナ ωж abc")
        .withColumn("sc", org.apache.spark.sql.graft.TextColumns
          .scriptCounts(org.apache.spark.sql.functions.col("s"), routedScripts))
        .select(wants ++ gots: _*))
      rows.forall(r => routedScripts.indices.forall(i =>
        r.getLong(i) == r.getLong(routedScripts.size + i)))
    }

  property("ScriptCounts interpreted eval equals the regex reference") =
    Prop.forAll(multiScriptText) { t =>
      val e = org.apache.spark.sql.graft.ScriptCounts(
        org.apache.spark.sql.catalyst.expressions.Literal(t), routedScripts)
      val got = e.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      val want = routedScripts.map { sc =>
        val kept = t.replaceAll(s"[^\\p{Is${sc.capitalize}}]+", "")
        kept.codePointCount(0, kept.length).toLong
      }
      got == want
    }

  property("unicode scanners' interpreted eval matches codegen contract " +
      "on planted edge inputs") = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def arr(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] =
      e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    val tokenCases = Seq(
      "" -> Seq(),
      "42 ..." -> Seq(),
      "ωμέγα κόσμος" -> Seq("ωμέγα", "κόσμος"),
      "北京大学 x" -> Seq("北京大学", "x"),
      "naïve café" -> Seq("naïve", "café"),
      // combining acute (Mn) splits: e + U+0301 is two tokens' boundary
      "ab́cd" -> Seq("ab", "cd"),
      "ＡＢ ab" -> Seq("ＡＢ", "ab"), // fullwidth letters are Lu/Ll
      "𐌰x" -> Seq("𐌰x")) // 4-byte letter glues
    val gramCases = Seq(
      "ωμέγα κόσμος" -> Seq("ωμέγα κόσμος"),
      "ωμέγα κόσμος γεια" -> Seq("ωμέγα κόσμος", "κόσμος γεια"),
      "42" -> Seq(""))
    Prop(tokenCases.forall { case (in, want) =>
      arr(org.apache.spark.sql.graft.LetterRunTokens(Literal(in))) == want
    } && gramCases.forall { case (in, want) =>
      arr(org.apache.spark.sql.graft.WordNGrams(Literal(in), 2, unicode = true)) == want
    })
  }

  // ---- MinCharGramHash -------------------------------------------------

  /** Reference for the code-point twin: same pad/position contract as
    * [[reference]] but windows count CODE POINTS and hash their values.
    */
  private def charReference(s: String): Long = {
    val cps = s.codePoints.toArray
    def at(k: Int): Long = if (k < cps.length) cps(k).toLong else 32L
    (0 until math.max(cps.length - 7, 1)).map { i =>
      (0 until 8).foldLeft(0L)((h, j) => h * 31L + at(i + j))
    }.min
  }

  property("MinCharGramHash codegen'd batch result equals the " +
      "code-point reference on multilingual input") =
    Prop.forAll(Gen.listOfN(12, multilingualText)) { texts =>
      val got = CodegenFrames.collect(CodegenFrames.texts(texts)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.graft.TextColumns.minCharGramHash(
            org.apache.spark.sql.functions.col("s")).as("h")))
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      texts.zipWithIndex.forall { case (t, i) => got(i) == charReference(t) }
    }

  property("MinCharGramHash interpreted eval equals the code-point " +
      "reference") =
    Prop.forAll(multilingualText) { t =>
      val e = org.apache.spark.sql.graft.MinCharGramHash(
        org.apache.spark.sql.catalyst.expressions.Literal(t))
      e.eval(null) == charReference(t)
    }

  property("MinCharGramHash equals MinGramHash on pure-ASCII input " +
      "(byte == code point)") =
    Prop.forAll(asciiText) { t =>
      val lit = org.apache.spark.sql.catalyst.expressions.Literal(t)
      org.apache.spark.sql.graft.MinCharGramHash(lit).eval(null) ==
        org.apache.spark.sql.graft.MinGramHash(lit).eval(null)
    }

  // ---- NfcNormalize ----------------------------------------------------

  /** Mixed generator biased toward the interesting classes: ASCII (the
    * identity fast path), precomposed Latin-1, combining marks (NFD
    * material that must compose), and arbitrary BMP letters.
    */
  private val unicodeText: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.const(' ')),
      2 -> Gen.oneOf('\u00e0', '\u00e9', '\u00fc', '\u00df', '\u0130'),
      2 -> Gen.oneOf('\u0300', '\u0301', '\u0308'),
      1 -> Gen.oneOf('\u03b1', '\u4e16', '\u00c9')))
      .map(_.mkString)

  private def nfcRef(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  property("NfcNormalize codegen'd batch result equals " +
      "java.text.Normalizer on mixed ASCII/Latin/combining input") =
    Prop.forAll(Gen.listOfN(12, unicodeText)) { texts =>
      val got = CodegenFrames.collect(CodegenFrames.texts(texts)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.graft.TextColumns.nfc(
            org.apache.spark.sql.functions.col("s")).as("n")))
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      texts.zipWithIndex.forall { case (t, i) => got(i) == nfcRef(t) }
    }

  property("NfcNormalize interpreted eval equals java.text.Normalizer, " +
      "and the ASCII fast path returns the INPUT object unchanged") =
    Prop.forAll(unicodeText) { t =>
      import org.apache.spark.unsafe.types.UTF8String
      val in = UTF8String.fromString(t)
      val out = org.apache.spark.sql.graft.NfcNormalize.normalize(in)
      val valueOk = out.toString == nfcRef(t)
      // identity (not just equality) on pure-ASCII input: the fast
      // path must not allocate
      val asciiOk = !t.forall(_ < 128) || (out eq in)
      valueOk && asciiOk
    }

  // ---- CaseFold --------------------------------------------------------

  private def foldRef(s: String): String =
    com.ibm.icu.lang.UCharacter.foldCase(
      s, com.ibm.icu.lang.UCharacter.FOLD_CASE_DEFAULT)

  private val mixedCaseText: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf(Gen.alphaChar, Gen.numChar, Gen.const(' ')),
      2 -> Gen.oneOf('\u00df', '\u0130', '\u03a3', '\u03c2', '\u00c9'),
      1 -> Gen.oneOf('\u0301', '\u4e16')))
      .map(_.mkString)

  property("CaseFold codegen'd batch result equals the ICU reference " +
      "on mixed-case ASCII/Latin/Greek input") =
    Prop.forAll(Gen.listOfN(12, mixedCaseText)) { texts =>
      val got = CodegenFrames.collect(CodegenFrames.texts(texts)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.graft.TextColumns.casefold(
            org.apache.spark.sql.functions.col("s")).as("f")))
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      texts.zipWithIndex.forall { case (t, i) => got(i) == foldRef(t) }
    }

  property("CaseFold interpreted eval equals the ICU reference; the " +
      "ASCII paths fold by byte scan (identity object when already " +
      "folded)") =
    Prop.forAll(mixedCaseText) { t =>
      import org.apache.spark.unsafe.types.UTF8String
      val in = UTF8String.fromString(t)
      val out = org.apache.spark.sql.graft.CaseFold.fold(in)
      val valueOk = out.toString == foldRef(t)
      val lowerAscii = t.forall(c => c < 128 && !(c >= 'A' && c <= 'Z'))
      val identityOk = !lowerAscii || (out eq in)
      valueOk && identityOk
    }

  // ---- PiiScan ---------------------------------------------------------

  private val PII_EMAIL = "[a-z0-9._-]+@[a-z0-9.-]+"
  private val PII_DIGITS = "[0-9]{6,}"

  /** java.util.regex reference — the exact engine behind Spark's
    * regexp_replace/regexp_extract_all, applied in the query's own
    * order (emails first, digit runs over the email-scrubbed text).
    */
  private def piiReference(t: String): (Long, Long, String) = {
    val ne = PII_EMAIL.r.findAllIn(t).size.toLong
    val s1 = t.replaceAll(PII_EMAIL, "<EMAIL>")
    val nd = PII_DIGITS.r.findAllIn(s1).size.toLong
    (ne, nd, s1.replaceAll(PII_DIGITS, "<NUM>"))
  }

  /** Adversarial scrub input: dense in the email classes' edge bytes
    * ('@' runs, '.'/'_'/'-' boundaries, the A\B char '_' right after a
    * domain — `a@b_c@d` must yield TWO matches), long digit runs
    * straddling the ≥6 cutoff, digits adjacent to emails, uppercase and
    * multi-byte separators.
    */
  private val piiText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      5 -> Gen.oneOf(Gen.alphaLowerChar, Gen.numChar).map(_.toString),
      3 -> Gen.oneOf("@", ".", "_", "-", " ").map(identity),
      1 -> Gen.oneOf("X", "é", "世").map(identity),
      1 -> Gen.oneOf("12345", "123456", "0000000").map(identity),
      1 -> Gen.const("user@example.com"),
      1 -> Gen.const("a@b_c@d"),
      1 -> Gen.const("@@")))
      .map(_.mkString)

  property("PiiScan codegen'd batch result equals the regexp chain " +
      "(the oracle spelling) on adversarial scrub input") =
    Prop.forAll(Gen.listOfN(12, piiText)) { texts =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(texts)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(
            s"size(regexp_extract_all(s, '$PII_EMAIL', 0))").cast("long").as("ne"),
          org.apache.spark.sql.functions.expr(
            s"size(regexp_extract_all(regexp_replace(s, '$PII_EMAIL', '<EMAIL>'), '$PII_DIGITS', 0))")
            .cast("long").as("nd"),
          org.apache.spark.sql.functions.expr(
            s"regexp_replace(regexp_replace(s, '$PII_EMAIL', '<EMAIL>'), '$PII_DIGITS', '<NUM>')")
            .as("scr"),
          org.apache.spark.sql.graft.TextColumns.piiScan(
            org.apache.spark.sql.functions.col("s")).as("p")))
      rows.forall { r =>
        val p = r.getStruct(4)
        r.getLong(1) == p.getLong(0) && r.getLong(2) == p.getLong(1) &&
          r.getString(3) == p.getString(2)
      }
    }

  property("PiiScan interpreted eval equals the java.util.regex " +
      "reference") =
    Prop.forAll(piiText) { t =>
      import org.apache.spark.unsafe.types.UTF8String
      val row = org.apache.spark.sql.graft.PiiScan
        .compute(UTF8String.fromString(t))
      val (ne, nd, scr) = piiReference(t)
      row.getLong(0) == ne && row.getLong(1) == nd &&
        row.getUTF8String(2).toString == scr
    }

  // ---- WordNGramsExact ---------------------------------------------------

  /** The guarded declarative form the substring window table used —
    * WordNGramsExact's contract is bit-exact equality with THIS
    * (empty array below the window width, never the joined fallback).
    */
  private def declarativeExactNGrams(n: Int): String =
    s"""CASE WHEN size(words) >= $n
       |THEN transform(sequence(0, size(words)-$n),
       |  i -> concat_ws(' ', ${(0 until n).map(j => s"words[i+$j]").mkString(", ")}))
       |ELSE cast(array() as array<string>) END""".stripMargin

  property("WordNGramsExact equals the GUARDED declarative \\p{L} form " +
      "for n in 1..9 on multilingual input") =
    Prop.forAll(Gen.listOfN(8, multilingualText), Gen.choose(1, 9)) { (texts, n) =>
      val rows = CodegenFrames.collect(CodegenFrames.texts(texts)
        .withColumn("words",
          org.apache.spark.sql.functions.expr(
            "filter(split(s, '[^\\\\p{L}]+'), x -> x <> '')"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.expr(declarativeExactNGrams(n)).as("want"),
          org.apache.spark.sql.graft.TextColumns.wordNGramsUExact(
            org.apache.spark.sql.functions.col("s"), n).as("got")))
      rows.forall(r => r.getSeq[String](1) == r.getSeq[String](2))
    }

  property("WordNGramsExact interpreted eval: empty array below the " +
      "window width, windows at and above it") = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val cases = Seq(
      ("", 2) -> Seq(),
      ("   ", 2) -> Seq(),
      ("ab", 2) -> Seq(),
      ("ab cd", 2) -> Seq("ab cd"),
      ("ab cd ef", 2) -> Seq("ab cd", "cd ef"),
      ("ab", 1) -> Seq("ab"))
    Prop(cases.forall { case ((in, n), want) =>
      val got = org.apache.spark.sql.graft
        .WordNGramsExact(Literal(in), n, unicode = true)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      got == want
    })
  }
}
