package graft

import org.apache.spark.sql.functions._

/** Planted-input soundness for the training-pipeline operators, end to
  * end through the PRODUCTION queries (the oracle proves Spark and
  * DuckDB agree on the fixture; this proves the agreed semantics do
  * what a corpus-preparation pipeline needs). Every expectation is
  * computed independently in the test — the hash replicated in Scala,
  * the gram overlap counted by hand — never read back from the engine.
  */
class TrainingPipelineSpec extends SparkSpec {

  import spark.implicits._

  /** The module's Knuth hash, replicated independently. */
  private def h(docId: Long, salt: Long): Long =
    ((docId % 1000003L) * 2654435761L + salt) % 1000000L

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = TestScratch.dir("graft_pipe_spec_")
    rows.toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  private def q(name: String, dir: String) =
    operators.TrainingPipeline.queries(name)(spark, dir)

  test("decontaminate flags exactly the planted 8-gram overlaps, " +
      "including the short-doc whole-text fallback") {
    val dir = writeDocs(Seq(
      // doc 0 (0 % 97 == 0): benchmark. 9 words -> grams at i=0,1
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota", "en", "src0"),
      // shares bench gram i=1 (beta..iota) as its own gram i=1 -> 1 hit of 3
      (1L, "xx beta gamma delta epsilon zeta eta theta iota yy", "en", "src0"),
      // disjoint vocabulary -> no hits -> absent from the report
      (2L, "one two three four five six seven eight nine ten", "en", "src0"),
      // doc 97: second benchmark doc, SHORT (fallback gram = whole text)
      (97L, "tiny doc", "en", "src0"),
      // exact copy of the short benchmark -> whole-text fallback hit
      (4L, "tiny doc", "en", "src0")))
    val got = q("pipe_decontaminate", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((3L, 1L)), 4L -> ((1L, 1L))),
      s"contamination report mismatch: $got")
    // the APPLY path: flagged docs 1 and 4 are cut; only the clean
    // training doc 2 survives (bench docs 0/97 are never in the corpus)
    val kept = q("pipe_decontaminate_cut", dir).collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(2L),
      s"cut must retain exactly the unflagged training doc: ${kept.toSeq}")
  }

  test("pack assigns each doc to the sequence its first token lands in " +
      "and conserves tokens per shard") {
    // all in shard 0 (ids % 16 == 0); 300 tokens each, budget 512:
    // starts at 0, 300, 600 -> seqs 0, 0, 1
    val w300 = Seq.fill(300)("w").mkString(" ")
    val dir = writeDocs(Seq(
      (0L, w300, "en", "src0"), (16L, w300, "en", "src0"),
      (32L, w300, "en", "src0")))
    val got = q("pipe_pack", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      (0L, 0L) -> ((2L, 600L, 0L)),
      (0L, 1L) -> ((1L, 300L, 32L))), s"packing manifest mismatch: $got")
    assert(got.values.map(_._2).sum == 900L, "tokens must be conserved")
  }

  test("stratified sample keeps min(CAP, stratum) rows, exactly the " +
      "smallest hashes, with the prefilter never dropping a winner") {
    // 600 en docs (stratum > 8*CAP -> the prefilter threshold is BELOW
    // saturation: cut = 400e6/600 ≈ 666666, so rows really are dropped
    // before the rank window and the test proves no winner was among
    // them), 5 fr docs (stratum < CAP -> threshold saturates, all kept)
    val en = (0L until 600L).map(i => (i, s"en doc $i", "en", "src0"))
    val fr = (2000L until 2005L).map(i => (i, s"fr doc $i", "fr", "src1"))
    val dir = writeDocs(en ++ fr)
    val got = q("pipe_sample_strat", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val gotEn = got.filter(_._1 == "en")
    val gotFr = got.filter(_._1 == "fr")
    assert(gotEn.length == 50 && gotFr.length == 5,
      s"quota mismatch: en=${gotEn.length} fr=${gotFr.length}")
    // independent expectation: the 50 smallest (h, doc_id) among en
    val expectEn = (0L until 600L).map(i => (h(i, 17L), i)).sorted.take(50)
    assert(gotEn.map(r => (r._4, r._3)).toSeq == expectEn.toSeq,
      "sampled en docs are not the 50 smallest hashes")
    assert(gotEn.map(_._2).toSeq == (1L to 50L).toSeq, "ranks must be 1..CAP")
  }

  test("weighted mix keeps exactly the docs under each source's hash " +
      "threshold and reports the achieved rate") {
    // sources src0..src3 -> tiers 250000/500000/750000/1000000 ppm
    val rows = (0L until 400L).map { i =>
      (i, s"doc $i", "en", s"src${i % 4}")
    }
    val dir = writeDocs(rows)
    val got = q("pipe_mix_weighted", dir).collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1).toLong, r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val tiers = Seq(250000L, 500000L, 750000L, 1000000L)
    for (srcnum <- 0 until 4) {
      val ids = (0L until 400L).filter(_ % 4 == srcnum)
      val w = tiers(srcnum)
      val kept = ids.count(i => h(i, 291L) < w).toLong
      val expect = ((w, ids.length.toLong, kept, kept * 1000000L / ids.length))
      assert(got(s"src$srcnum") == expect,
        s"src$srcnum mix accounting mismatch: ${got(s"src$srcnum")} vs $expect")
    }
    // the full-weight tier keeps everything — the threshold is inclusive
    // of the whole hash range
    assert(got("src3")._3 == got("src3")._2, "weight 1.0 must keep all")
  }

  test("repetition stats: exact fractions on engineered repetition and " +
      "NULL guards on degenerate docs") {
    val dir = writeDocs(Seq(
      // bigrams: ab ba ab ba ab -> top 3/5; trigrams: aba bab aba bab -> dup 2/4
      (1L, "a b a b a b", "en", "src0"),
      // all bigrams distinct -> top 1/3; no trigram dup
      (2L, "x y z w", "en", "src0"),
      // single word: no bigrams/trigrams -> NULL fractions
      (3L, "hello", "en", "src0")))
    val got = q("pipe_repetition", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(got(1L) == ((6L, 0.6, 0.5)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((4L, 0.333333, 0.0)), s"doc 2: ${got(2L)}")
    assert(got(3L) == ((1L, null, null)), s"doc 3: ${got(3L)}")
  }

  test("semantic dedup drops exactly the bucket-mate over tau, keeps " +
      "the sub-tau mate, and never compares across buckets") {
    val dim = 64
    def vec(head: Seq[Float]): Seq[Float] =
      head ++ Seq.fill(dim - head.size)(0.0f)
    val pos6 = Seq.fill(6)(1.0f)
    val rows = Seq(
      // bucket B (all six sign bits set): keeper (min vec_id)
      (0L, vec(pos6 :+ 1.0f), 0),
      // same bucket, same direction scaled -> cosine 1.0 >= 0.3: dropped
      (5L, vec(pos6.map(_ * 2.0f) :+ 2.0f), 0),
      // same bucket, dim6 pulls cosine negative -> kept
      (7L, vec(pos6 :+ -50.0f), 0),
      // different bucket (first sign bit flipped) -> never compared
      (9L, vec(-1.0f +: pos6.tail :+ 1.0f), 0))
    val dir = TestScratch.dir("graft_pipe_sem_")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val got = q("pipe_semantic_dedup", dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((5L, 0L, 1.0)),
      s"semantic dedup drop list mismatch: ${got.toSeq}")
  }

  // ---- unsegmented-script variants (round 17) ----------------------------

  test("char-gram decontamination flags the CJK doc quoting the planted " +
      "benchmark block with the hand-counted hit count; clean CJK prose " +
      "and every ASCII fixture doc are absent (word grams were " +
      "structurally blind here: each doc is one \\p{L} token)") {
    // expectations computed independently: the planted texts are pure
    // BMP letters, so String#sliding windows ARE code-point windows
    val texts = operators.TrainingPipeline.CJK_DECON_DOCS.toMap
    def grams(id: Long) = texts(id).sliding(20).toSet
    val expectHits = (grams(-96L) intersect grams(-97L)).size.toLong
    val expectGrams = grams(-96L).size.toLong
    assert(expectHits > 0, "plant must actually overlap the benchmark")
    val got = q("pipe_decontaminate_chars", sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(-96L -> ((expectGrams, expectHits))),
      s"routed contamination report mismatch (want -96 -> " +
        s"($expectGrams, $expectHits)): $got")
  }

  test("char repetition stats: the degenerate 2-char loop tops the " +
      "bigram occupancy and near-totals trigram duplication, normal " +
      "CJK prose sits at baseline, the half-boilerplate doc lands " +
      "between — and no ASCII fixture doc enters the routed base") {
    val got = q("pipe_repetition_chars", sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(-61L, -62L, -63L),
      s"exactly the planted unsegmented docs must report: $got")
    val (tb61, dt61) = got(-61L)
    // "去重"×25: top bigram occurs 25 times of 49 windows; all 48
    // trigram windows repeat one of two patterns -> 46/48 duplicated
    assert(tb61 > 0.5 && dt61 > 0.9, s"degenerate loop must max out: ${got(-61L)}")
    val (tb62, dt62) = got(-62L)
    assert(tb62 < 0.05 && dt62 == 0.0, s"normal prose must baseline: ${got(-62L)}")
    val (tb63, dt63) = got(-63L)
    assert(tb63 > tb62 && tb63 < tb61 && dt63 > 0.5 && dt63 < dt61,
      s"half-boilerplate must land between: ${got(-63L)}")
  }

  test("routed packing prices unsegmented docs in letters, not " +
      "whitespace tokens: the two 555/560-letter CJK plants split into " +
      "two sequences where the whitespace count (1 token each) would " +
      "pack them into one, and every segmented-corpus row is unchanged " +
      "from pipe_pack") {
    val texts = operators.TrainingPipeline.CJK_PACK_DOCS.toMap
    // the blindness, computed independently: no whitespace anywhere in
    // the plants, so the word base prices each at ONE token
    for ((id, t) <- texts)
      assert(t.split("\\s+").count(_.nonEmpty) == 1,
        s"plant $id must be whitespace-free (one ws token)")
    assert(texts(-137L).length == 555 && texts(-121L).length == 560,
      "the shard -9 pair must carry 555/560 letters (BMP chars, so " +
        "String#length IS the code-point count)")
    val routed = q("pipe_pack_routed", sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the catch: -137's 555 letters fill seq 0 past the 512 budget, so
    // -121 starts seq 1 — under the word count both land in seq 0
    assert(routed((-9L, 0L)) == ((1L, 555L, -137L)) &&
      routed((-9L, 1L)) == ((1L, 560L, -121L)),
      s"shard -9 must split: ${routed.filter(_._1._1 == -9L)}")
    assert(routed((-10L, 0L)) == ((1L, 20L, -122L)) &&
      routed((-11L, 0L)) == ((1L, 22L, -123L)),
      s"fixture-length plants must price at their letter counts: " +
        s"${routed.filter(k => k._1._1 == -10L || k._1._1 == -11L)}")
    // segmented rows: routing must be a no-op — bit-equal to pipe_pack
    val word = q("pipe_pack", sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(routed.filter(_._1._1 >= 0L) == word,
      "ASCII corpus shards must be unchanged by the routing")
  }
}
