package graft

import org.apache.spark.sql.functions._

/** BPE merge learning, proven through the production query on a planted
  * corpus with a hand-computed merge sequence, plus the classic
  * monotonicity invariant on the fixture corpus.
  */
class BpeMergeSpec extends SparkSpec {

  private def corpusOf(docs: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_")
    import spark.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  private def merges(dir: String): Seq[(Int, String, String, String, Long)] =
    operators.TextAnalysis.queries("text_bpe_train")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq

  test("planted chain 'aaaa': the adjacent-run merge sequence is exactly " +
      "the hand-computed one, and learning stops when the vocab is a " +
      "single token") {
    // seed 'a a a a </w>': (a,a) wins with 3 positional occurrences and
    // the two-pass boundary replace merges the chain to 'aa aa </w>';
    // then (aa,</w>) beats (aa,aa) on the lexicographic tie; then one
    // pair remains. Rounds 4..10 have nothing to merge and emit no row.
    val got = merges(corpusOf(Seq("aaaa")))
    val want = Seq(
      (1, "a", "a", "aa", 3L),
      (2, "aa", "</w>", "aa</w>", 1L),
      (3, "aa", "aa</w>", "aaaa</w>", 1L))
    assert(got == want, s"merge table diverged:\n got=$got\n want=$want")
  }

  test("planted two-word corpus: frequency-weighted argmax picks the " +
      "high-frequency word's pair across all its occurrences first") {
    // 'xyxy' seeds 'x y x y </w>' (freq 5): pair (x,y) occurs at TWO
    // positions -> n = 10 beats everything from 'zq' (freq 3).
    val got = merges(corpusOf(Seq.fill(5)("xyxy") ++ Seq.fill(3)("zq")))
    assert(got.head == ((1, "x", "y", "xy", 10L)), s"first merge: $got")
    // round 2: ties at n=5 between (xy,xy) and (xy,</w>) resolve
    // lexicographically on b ('<' sorts before 'x')
    assert(got(1) == ((2, "xy", "</w>", "xy</w>", 5L)), s"tie-break: $got")
  }

  test("encode after exhaustion: the recurrence is total — the planted " +
      "chain word ends as ONE token and the vocab survives the empty " +
      "rounds unchanged") {
    val rows = operators.TextAnalysis.queries("text_bpe_encode")(
      spark, corpusOf(Seq("aaaa"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // merges exhaust after round 3 ('aaaa</w>' is a single symbol);
    // rounds 4..10 must pass the vocab through, not erase it
    assert(rows.toSeq == Seq(("a", 1L, 5L, 1L)),
      s"encode diverged: ${rows.toSeq}")
  }

  test("fixture corpus: encode conserves words and only ever shrinks " +
      "token counts") {
    val rows = operators.TextAnalysis.queries("text_bpe_encode")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (ini, _, before, after) =>
      assert(after <= before && after >= 1,
        s"initial '$ini': merging cannot grow the encoding: $before -> $after")
    }
    assert(rows.exists { case (_, _, b, a) => a < b },
      "ten merges compressed nothing on the fixture corpus")
  }

  test("fixture corpus: ten merges, argmax count is non-increasing " +
      "(merging the max pair can only create rarer pairs), merged " +
      "symbol is the concatenation") {
    val got = merges(sfDir)
    assert(got.map(_._1) == (1 to 10), s"ranks: $got")
    got.foreach { case (_, a, b, m, _) => assert(m == a + b) }
    got.sliding(2).foreach { case Seq(p, q) =>
      assert(p._5 >= q._5, s"argmax count increased: $p -> $q")
    }
  }

  // ---- rank-indexed encoder ≡ sequential replay (round 15) ------------

  test("rank-indexed greedy encode equals replay on the planted chain " +
      "corpora (the overlapping-run edge cases) and on the fixture") {
    // the chain word: greedy must land on ONE symbol exactly as the
    // two-pass boundary replace does, including the odd-length run
    // where a trailing singleton survives round 1
    for (docs <- Seq(Seq("aaaa"), Seq("aaa"), Seq("aaaaa"),
        Seq.fill(5)("xyxy") ++ Seq.fill(3)("zq"))) {
      val dir = corpusOf(docs)
      val replay = operators.TextAnalysis.queries("text_bpe_encode")(
        spark, dir).collect().map(_.toSeq).toSeq
      val ranked = operators.TextAnalysis.queries("text_bpe_encode_rank")(
        spark, dir).collect().map(_.toSeq).toSeq
      assert(ranked == replay,
        s"encoder strategies diverged on $docs:\n replay=$replay\n ranked=$ranked")
    }
    val replayF = operators.TextAnalysis.queries("text_bpe_encode")(
      spark, sfDir).collect().map(_.toSeq).toSeq
    val rankedF = operators.TextAnalysis.queries("text_bpe_encode_rank")(
      spark, sfDir).collect().map(_.toSeq).toSeq
    assert(rankedF == replayF, "encoder strategies diverged on the fixture")
  }

  test("BpeEncoder unit semantics: greedy merge order, memo-backed " +
      "whole-text counting, and unknown symbols surviving untouched") {
    val enc = new org.apache.spark.sql.graft.BpeEncoder(Array(
      ("a", "a"), ("aa", "</w>"), ("aa", "aa</w>")))
    assert(enc.encodeWord("aaaa").toSeq == Seq("aaaa</w>"))
    assert(enc.encodeWord("aaa").toSeq == Seq("aa", "a", "</w>"))
    assert(enc.encodeWord("b").toSeq == Seq("b", "</w>"))
    // countText tokenizes [a-z] runs exactly like the trainer's seed:
    // 'aaaa' -> 1 token, 'b' -> 2, uppercase/punct are delimiters
    import org.apache.spark.unsafe.types.UTF8String
    assert(enc.countText(UTF8String.fromString("aaaa b AAAA, aaaa!")) ==
      1L + 2L + 1L)
    assert(enc.countText(UTF8String.fromString("")) == 0L)
  }

  test("the train memo: all four BPE consumers on one (session, sfDir) " +
      "cost exactly ONE training run") {
    val dir = corpusOf(Seq.fill(4)("banana") ++ Seq.fill(2)("bandana"))
    Materialize.clear()
    val before = operators.TextAnalysis.bpeTrainRuns.get()
    for (q <- Seq("text_bpe_train", "text_bpe_encode", "text_bpe_encode_rank",
        "text_bpe_doc_tokens"))
      operators.TextAnalysis.queries(q)(spark, dir).collect()
    assert(operators.TextAnalysis.bpeTrainRuns.get() == before + 1,
      "four consumers must share one memoized train")
    // a different corpus is a different memo key, never a stale hit
    val dir2 = corpusOf(Seq("totally", "different"))
    operators.TextAnalysis.queries("text_bpe_train")(spark, dir2).collect()
    assert(operators.TextAnalysis.bpeTrainRuns.get() == before + 2)
  }

  test("tokenizer store round-trip: stored merges reload in rank order, " +
      "encode identically, and stamp violations fail loudly") {
    val dir = corpusOf(Seq.fill(4)("banana") ++ Seq.fill(2)("bandana"))
    val trained = operators.TextAnalysis.bpeRounds(spark, dir)._3
    assert(trained.nonEmpty)
    val tokDir = java.nio.file.Files
      .createTempDirectory("graft_tok_").toString + "/tokenizer"
    operators.TextAnalysis.writeTokenizer(spark, tokDir, trained)
    assert(operators.TextAnalysis.readTokenizer(spark, tokDir) == trained,
      "stored merge list must reload byte-identically in rank order")
    // the encode-only entry point matches the train-deriving query
    val fromStore = operators.TextAnalysis
      .bpeDocTokensWith(spark, dir, tokDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fromTrain = operators.TextAnalysis
      .queries("text_bpe_doc_tokens")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fromStore == fromTrain,
      "encoding under the stored tokenizer must equal the trained one")
    // stamp mismatch: loud, names both stamps
    val metaFile = new java.io.File(tokDir, "_graft_meta.json")
    java.nio.file.Files.write(metaFile.toPath,
      """{"format":0,"seed":"other"}""".getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      operators.TextAnalysis.readTokenizer(spark, tokDir)
    }
    assert(e.getMessage.contains("different semantics"), e.getMessage)
    // stamp absent: loud, names the remedy
    assert(metaFile.delete())
    val e2 = intercept[RuntimeException] {
      operators.TextAnalysis.readTokenizer(spark, tokDir)
    }
    assert(e2.getMessage.contains("no _graft_meta.json"), e2.getMessage)
  }

  test("BpeEncoder rejects merge lists where greedy-by-rank and replay " +
      "can diverge (ambiguous outputs, consumer ranked before creator)") {
    // two rules producing the same output symbol: a consumer ranked
    // between them would fire in greedy on the later creator's output
    // but never in replay
    val amb = intercept[IllegalArgumentException] {
      new org.apache.spark.sql.graft.BpeEncoder(Array(
        ("a", "b"), ("ab", "c"), ("b", "c"), ("a", "bc")))
    }
    assert(amb.getMessage.contains("ambiguous"), amb.getMessage)
    // a rule consuming a symbol only a LATER rule creates: replay at
    // rank 0 sees no 'ab' symbol yet; greedy after rank 1 fires it
    val ooo = intercept[IllegalArgumentException] {
      new org.apache.spark.sql.graft.BpeEncoder(Array(
        ("ab", "c"), ("a", "b")))
    }
    assert(ooo.getMessage.contains("unsound"), ooo.getMessage)
  }
}
