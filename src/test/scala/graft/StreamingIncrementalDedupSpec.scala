package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end proof of `Dedup.incrementalDedupStream` — the crawl-ingest
  * shape of incremental dedup: micro-batches of new documents arrive as
  * a file-source STREAM, each batch is deduplicated against the on-disk
  * corpus signature table (seeded from corpus A), survivors land in the
  * kept sink, and their signatures join the table so LATER batches dedup
  * against everything kept so far.
  *
  * Planted fates are hand-derived from the dominance rule, with the
  * cross-batch cases chosen as exact copies so the expected outcome
  * never depends on near-dup transitivity:
  *  - batch 0 replays the `DedupIncrementalSpec` batch (kept = 13, 14);
  *  - batch 1 then proves ACCUMULATION: a copy of batch-0-KEPT 13 drops
  *    (it is not in corpus A — only the growing table can catch it), a
  *    copy of batch-0-DROPPED 15's text drops via keeper 14, a genuinely
  *    new doc survives, and its within-batch near-dup drops.
  *
  * The second trigger runs from the SAME checkpoint in a separate
  * `start()`, and a third no-new-files run asserts replay idempotence —
  * the sink and signature table are byte-stable across restarts.
  */
class StreamingIncrementalDedupSpec extends SparkSpec {

  private def words(seed: String): Seq[String] =
    (0 until 40).map(i => s"$seed${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  /** Version directory of number `n` under a signature table, whatever
    * its name shape: `v=0` (writeSignatureTable's unsuffixed seed) or
    * `v=N.<nonce>` (a compaction fold — the nonce is the
    * concurrent-compactor guard and differs per run).
    */
  private def vdirOf(sig: File, n: Int): Option[File] =
    Option(sig.listFiles).toSeq.flatten
      .find(f => f.getName == s"v=$n" || f.getName.startsWith(s"v=$n."))

  private def committedV(sig: File, n: Int): Boolean =
    vdirOf(sig, n).exists(d => new File(d, "_graft_commit").exists)

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
  }

  private lazy val corpusA = docs(Seq(
    1L -> words("aa").mkString(" "),
    2L -> words("bb").mkString(" "),
    3L -> words("cc").mkString(" "),
    4L -> words("dd").mkString(" "),
    5L -> words("ee").mkString(" ")))

  private lazy val batch0 = docs(Seq(
    11L -> words("aa").mkString(" "),                        // exact copy of corpus 1   -> drop
    12L -> words("cc").updated(20, "changed").mkString(" "), // near-dup of corpus 3     -> drop
    13L -> words("ff").mkString(" "),                        // genuinely new            -> keep
    14L -> words("gg").mkString(" "),                        // genuinely new            -> keep
    15L -> words("gg").mkString(" "),                        // copy of EARLIER new 14   -> drop
    16L -> words("ff").updated(13, "tweaked").mkString(" "))) // near-dup of earlier 13  -> drop

  private lazy val batch1 = docs(Seq(
    21L -> words("bb").mkString(" "),                        // exact copy of corpus 2   -> drop
    22L -> words("ff").mkString(" "),                        // copy of batch-0 KEPT 13  -> drop (accumulation)
    23L -> words("gg").mkString(" "),                        // text of DROPPED 15 = keeper 14's -> drop
    24L -> words("hh").mkString(" "),                        // genuinely new            -> keep
    25L -> words("hh").updated(13, "tweaked").mkString(" "))) // near-dup of earlier 24  -> drop

  /** Write `df` as ONE parquet file `dest` (the stream source dir holds
    * one file per planted micro-batch; maxFilesPerTrigger=1 maps them
    * 1:1 onto triggers).
    */
  private def writeOneFile(df: DataFrame, dest: File): Unit = {
    val tmp = TestScratch.dir("graft_incwrite_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Option(tmp.toFile.listFiles).toSeq.flatten
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Fs.rmTree(tmp.toFile)
  }

  private def runStream(inputDir: String, sigDir: String, keptDir: String,
      ckptDir: String): Unit = {
    val stream = spark.readStream.schema(corpusA.schema)
      .option("maxFilesPerTrigger", "1").parquet(inputDir)
    val q = operators.Dedup.incrementalDedupStream(
      stream, sigDir, keptDir, ckptDir)
    try q.awaitTermination() finally { if (q.isActive) q.stop() }
  }

  // partition-value inference types ingest_batch as int; normalize
  private def keptState(keptDir: String): Map[Long, Long] =
    spark.read.parquet(keptDir)
      .select(col("doc_id"), col("ingest_batch").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two planted micro-batches: corpus dedup, table accumulation, " +
      "within-batch dominance, and restart idempotence") {
    val root = TestScratch.dir("graft_incdedup_").toFile
    val (in, sig, kept, ckpt) = (new File(root, "in"), new File(root, "sig"),
      new File(root, "kept"), new File(root, "ckpt"))
    in.mkdirs()
    try {
      operators.Dedup.writeSignatureTable(corpusA, sig.toString)
      assert(operators.Dedup.readSignatureTable(spark, sig.toString).count() == 5)

      // trigger 1: batch0 file only
      writeOneFile(batch0, new File(in, "b0.parquet"))
      runStream(in.toString, sig.toString, kept.toString, ckpt.toString)
      assert(keptState(kept.toString) == Map(13L -> 0L, 14L -> 0L),
        "batch 0 must replay the DedupIncrementalSpec fates")

      // trigger 2: batch1 file, restarted from the same checkpoint
      writeOneFile(batch1, new File(in, "b1.parquet"))
      runStream(in.toString, sig.toString, kept.toString, ckpt.toString)
      assert(keptState(kept.toString) == Map(13L -> 0L, 14L -> 0L, 24L -> 1L),
        "22 and 23 can only drop if batch-0 survivors joined the table")

      // kept rows carry the ORIGINAL columns
      val row24 = spark.read.parquet(kept.toString)
        .filter(col("doc_id") === 24L).collect().head
      assert(row24.getAs[String]("text") == words("hh").mkString(" "))

      // the signature table holds seed + kept rows, partitioned by batch
      // inside the live v=0 version directory (stream appends in place)
      val sigState = spark.read.parquet(s"$sig/v=0")
        .groupBy(col("ingest_batch").cast("long").as("b")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigState == Map(-1L -> 5L, 0L -> 2L, 1L -> 1L))
      // and is joinable by any later run: same shape as signatures()
      assert(operators.Dedup.readSignatureTable(spark, sig.toString)
        .schema.fieldNames.sorted
        .sameElements(Array("doc_id", "ingest_batch", "sig")))

      // restart with no new files: sink and table unchanged
      val sigBefore = operators.Dedup.readSignatureTable(spark, sig.toString)
        .collect().toSet
      runStream(in.toString, sig.toString, kept.toString, ckpt.toString)
      assert(keptState(kept.toString) == Map(13L -> 0L, 14L -> 0L, 24L -> 1L))
      assert(operators.Dedup.readSignatureTable(spark, sig.toString)
        .collect().toSet == sigBefore)

      // compaction against the REAL checkpoint this stream wrote — the
      // commit-precondition parse runs on genuine CommitLog layout, not
      // the fabricated one the precondition spec uses
      operators.Dedup.compactSignatureTable(
        spark, sig.toString, ckpt.toString, targetFiles = 2)
      val folded = operators.Dedup.readSignatureTable(spark, sig.toString)
      assert(folded.select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 4L, 5L, 13L, 14L, 24L))
      assert(folded.select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(-1L))
      // the fold published version 1; superseded v=0 survives one cycle
      // for readers that resolved before the flip
      assert(committedV(sig, 1))
      assert(new File(sig, "v=0").exists)
    } finally Fs.rmTree(root)
  }

  /** Fabricate the commit log of a stream checkpoint that has committed
    * exactly `committed` — the layout Structured Streaming's CommitLog
    * leaves at `<ckpt>/commits/<batchId>` (content irrelevant to the
    * precondition, which keys on file NAMES).
    */
  private def fakeCheckpoint(root: File, name: String, committed: Long*): File = {
    val ckpt = new File(root, name)
    val commits = new File(ckpt, "commits")
    commits.mkdirs()
    committed.foreach(b => java.nio.file.Files.write(
      new File(commits, b.toString).toPath, "v1".getBytes))
    ckpt
  }

  test("signature-table compaction folds batch partitions into the seed, " +
      "bounds file count, and leaves dedup behavior unchanged") {
    import operators.Dedup.{compactSignatureTable, dedupAgainst, readSignatureTable, signatures, writeSignatureTable}
    val root = TestScratch.dir("graft_sigcompact_").toFile
    val sig = new File(root, "sig")
    try {
      // accumulated state after two committed triggers: seed + per-batch
      // signature partitions, exactly the layout the stream leaves behind
      writeSignatureTable(corpusA, sig.toString)
      val kept0 = docs(Seq(13L -> words("ff").mkString(" "), 14L -> words("gg").mkString(" ")))
      val kept1 = docs(Seq(24L -> words("hh").mkString(" ")))
      Seq(kept0 -> 0L, kept1 -> 1L).foreach { case (df, b) =>
        signatures(df).select("doc_id", "sig")
          .withColumn("ingest_batch", lit(b))
          .write.mode("append").partitionBy("ingest_batch").parquet(s"$sig/v=0")
      }
      val ckpt = fakeCheckpoint(root, "ckpt", 0L, 1L)
      val before = readSignatureTable(spark, sig.toString)
        .select("doc_id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 2)

      // same (doc_id, sig) content, all rows folded into the seed partition
      val compacted = readSignatureTable(spark, sig.toString)
      assert(compacted.select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap == before)
      assert(compacted.select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(-1L))
      // layout bounded inside the published version 1: one partition
      // dir, at most targetFiles parquet files
      assert(committedV(sig, 1))
      val v1 = vdirOf(sig, 1).get
      val partDirs = Option(v1.listFiles).toSeq.flatten.filter(_.isDirectory)
      assert(partDirs.map(_.getName) == Seq("ingest_batch=-1"))
      assert(partDirs.head.listFiles.count(_.getName.endsWith(".parquet")) <= 2)
      // nothing outside the table dir; superseded v=0 still present for
      // one cycle (racing readers), collected by the next compaction
      assert(Option(root.listFiles).toSeq.flatten.map(_.getName).sorted ==
        Seq("ckpt", "sig"))
      assert(new File(sig, "v=0").exists)

      // dedup semantics against the compacted table are unchanged:
      // a copy of kept-13 and of kept-24 drop, a genuinely new doc stays
      val probe = docs(Seq(
        31L -> words("ff").mkString(" "),
        32L -> words("hh").mkString(" "),
        33L -> words("kk").mkString(" ")))
      val kept = dedupAgainst(
        readSignatureTable(spark, sig.toString).select("doc_id", "sig"), probe)
      assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(33L))

      // a later compaction collects the superseded version and any
      // uncommitted junk, and the table content is unaffected
      val junk = new File(sig, "v=7")
      junk.mkdirs()
      java.nio.file.Files.write(new File(junk, "garbage").toPath,
        "not a table".getBytes)
      assert(readSignatureTable(spark, sig.toString)
        .select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap == before,
        "an uncommitted version dir must be invisible to readers")
      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 2)
      assert(!new File(sig, "v=0").exists && !junk.exists,
        "the next compaction collects superseded and uncommitted versions")
      assert(committedV(sig, 2))
      assert(readSignatureTable(spark, sig.toString)
        .select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap == before)
    } finally Fs.rmTree(root)
  }

  test("compaction refuses to fold a batch the stream checkpoint has not " +
      "committed, and accepts once the commit lands") {
    import operators.Dedup.{compactSignatureTable, readSignatureTable, signatures, writeSignatureTable}
    val root = TestScratch.dir("graft_sigprecond_").toFile
    val sig = new File(root, "sig")
    try {
      writeSignatureTable(corpusA, sig.toString)
      Seq(0L, 1L).foreach { b =>
        signatures(docs(Seq((100 + b) -> words("zz").mkString(" "))))
          .select("doc_id", "sig").withColumn("ingest_batch", lit(b))
          .write.mode("append").partitionBy("ingest_batch").parquet(s"$sig/v=0")
      }
      // the crash window: batch 1's writes landed (foreachBatch ran) but
      // the checkpoint stopped between offset-write and commit — only
      // batch 0 is in commits/, so a restart REPLAYS batch 1
      val stale = fakeCheckpoint(root, "ckpt_stale", 0L)
      val e = intercept[IllegalArgumentException](
        compactSignatureTable(spark, sig.toString, stale.toString, targetFiles = 2))
      assert(e.getMessage.contains("exceed the max committed batch id (0)"))
      assert(e.getMessage.contains("ingest_batch"), "must name the unsafe partitions")

      // no commits/ at all (stream never committed anything): same refusal
      val empty = new File(root, "ckpt_empty"); empty.mkdirs()
      val e2 = intercept[IllegalArgumentException](
        compactSignatureTable(spark, sig.toString, empty.toString, targetFiles = 2))
      assert(e2.getMessage.contains("max committed batch id (-1)"))

      // refusal must not have touched the table
      assert(readSignatureTable(spark, sig.toString).count() == 7)

      // commit lands -> fold proceeds and erases batch identity
      val fresh = fakeCheckpoint(root, "ckpt_fresh", 0L, 1L)
      compactSignatureTable(spark, sig.toString, fresh.toString, targetFiles = 2)
      assert(readSignatureTable(spark, sig.toString)
        .select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(-1L))
      assert(readSignatureTable(spark, sig.toString).count() == 7)
    } finally Fs.rmTree(root)
  }

  test("readers refuse a signature table stamped with different " +
      "parameters, an unstamped table, and name the remedy") {
    import operators.Dedup.{readSignatureTable, sigTableMeta, writeSignatureTable}
    val root = TestScratch.dir("graft_sigstamp_").toFile
    val sig = new File(root, "sig")
    try {
      writeSignatureTable(corpusA, sig.toString)
      // matched stamp: reads fine
      assert(readSignatureTable(spark, sig.toString).count() == 5)

      // tamper the stamp into a different parameterization (K=32)
      val metaFile = new File(sig, "v=0/_graft_meta.json")
      val stamped = new String(
        java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
      assert(stamped == sigTableMeta)
      java.nio.file.Files.write(metaFile.toPath,
        stamped.replace("\"k\":16", "\"k\":32").getBytes("UTF-8"))
      val e = intercept[RuntimeException](readSignatureTable(spark, sig.toString))
      assert(e.getMessage.contains("different parameters"))
      assert(e.getMessage.contains("\"k\":32") && e.getMessage.contains("\"k\":16"),
        "error must carry both stamps")

      // the STREAM is a reader too: a mismatched table must fail its
      // first trigger, not silently mis-dedup the crawl
      val (in, kept, ckpt) =
        (new File(root, "in"), new File(root, "kept"), new File(root, "ckpt"))
      in.mkdirs()
      writeOneFile(batch0, new File(in, "b0.parquet"))
      val se = intercept[Exception](
        runStream(in.toString, sig.toString, kept.toString, ckpt.toString))
      assert(Iterator.iterate(se: Throwable)(_.getCause).takeWhile(_ != null)
        .take(10).exists(t => t.getMessage != null &&
          t.getMessage.contains("different parameters")))

      // unstamped (pre-stamping) table: refused with the exact sidecar
      java.nio.file.Files.delete(metaFile.toPath)
      val e2 = intercept[RuntimeException](readSignatureTable(spark, sig.toString))
      assert(e2.getMessage.contains("no _graft_meta.json"))
      assert(e2.getMessage.contains(sigTableMeta),
        "remedy must include the exact stamp to write after manual verification")

      // restore the true stamp: table reads again (stamping IS the fix)
      java.nio.file.Files.write(metaFile.toPath, sigTableMeta.getBytes("UTF-8"))
      assert(readSignatureTable(spark, sig.toString).count() == 5)
    } finally Fs.rmTree(root)
  }

  test("crash windows of the versioned compaction commit: an uncommitted " +
      "fold is invisible and auto-collected, a reader racing the version " +
      "flip reads a complete table, and a two-flips-stale reader fail-stops") {
    import operators.Dedup.{compactSignatureTable, dedupAgainst, readSignatureTable, writeSignatureTable}
    val root = TestScratch.dir("graft_sigcrash_").toFile
    val sig = new File(root, "sig")
    def table(): Set[Long] = readSignatureTable(spark, sig.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      writeSignatureTable(corpusA, sig.toString)
      val want = table()
      val ckpt = fakeCheckpoint(root, "ckpt") // seed-only: no batches to fold

      // compaction folds publish as nonce-suffixed `v=N.<nonce>` dirs
      // (the concurrent-compactor guard); look versions up by NUMBER
      def vdir(n: Int): Option[File] = vdirOf(sig, n)
      def committed(n: Int): Boolean = committedV(sig, n)

      // -- window 1: crash while WRITING the fold. The staged v=1 exists
      // but has no commit marker — readers never resolve it, the live
      // table is untouched, and no manual restore exists to get wrong.
      val staged = new File(sig, "v=1")
      new File(staged, "ingest_batch=-1").mkdirs()
      java.nio.file.Files.write(
        new File(staged, "ingest_batch=-1/part-half-written.parquet").toPath,
        "truncated by the crash".getBytes)
      assert(table() == want,
        "an uncommitted fold must be invisible to readers")
      // recovery is the next compaction run itself: it collects the
      // debris and redoes the fold into the same version number
      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 1)
      assert(committed(1), "the redone fold publishes version 1")
      assert(table() == want)

      // -- window 2: crash AFTER the marker — which is also the NORMAL
      // completed state: versions 0 and 1 both committed, the newer one
      // live, the superseded one collected by the next run.
      assert(committed(0) && committed(1))
      assert(table() == want, "max committed version wins")

      // -- reader racing the flip: resolve the live version, THEN let a
      // compaction publish version 2 — the already-resolved reader
      // finishes against its intact directory because the superseded
      // version is kept for one full cycle.
      val pinnedAtV1 = readSignatureTable(spark, sig.toString)
        .select("doc_id", "sig")
      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 1)
      assert(committed(2))
      assert(vdir(0).isEmpty, "v=0 collected one cycle late")
      assert(vdir(1).isDefined, "v=1 survives the cycle it was superseded in")
      assert(pinnedAtV1.collect().map(_.getLong(0)).toSet == want,
        "a reader that resolved before the flip reads a complete table")

      // -- a reader pinned TWO flips back fail-stops (its directory is
      // collected), never yields a half-table
      val pinnedAtV2 = readSignatureTable(spark, sig.toString)
        .select("doc_id", "sig")
      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 1) // v3, collects v1
      assert(pinnedAtV2.collect().map(_.getLong(0)).toSet == want,
        "one flip back still reads (version 2 kept this cycle)")
      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 1) // v4, collects v2
      assert(vdir(2).isEmpty)
      intercept[Exception](pinnedAtV2.collect())

      // and the current table still dedups: a copy of corpus 1 drops
      val probe = docs(Seq(41L -> words("aa").mkString(" "),
        42L -> words("qq").mkString(" ")))
      val keptIds = dedupAgainst(
        readSignatureTable(spark, sig.toString).select("doc_id", "sig"), probe)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptIds == Set(42L))
    } finally Fs.rmTree(root)
  }

  test("two racing compactors: the first committer wins, the loser " +
      "fail-stops at its commit point and leaves no staging behind") {
    import operators.Dedup.{compactSignatureTable, readSignatureTable, writeSignatureTable}
    val root = TestScratch.dir("graft_sigrace_").toFile
    val sig = new File(root, "sig")
    def table(): Set[Long] = readSignatureTable(spark, sig.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      writeSignatureTable(corpusA, sig.toString)
      val want = table()
      val ckpt = fakeCheckpoint(root, "ckpt")
      // compactor B resolves live v=0 and fully writes its fold; inside
      // B's pre-commit window (the beforeCommit seam — exactly where a
      // real race lands) compactor A runs start-to-finish and commits
      // version 1 first. B must then refuse its own commit.
      val e = intercept[RuntimeException] {
        compactSignatureTable(spark, sig.toString, ckpt.toString, 1,
          () => compactSignatureTable(spark, sig.toString, ckpt.toString,
            targetFiles = 1))
      }
      assert(e.getMessage.contains("concurrent compactor committed"),
        s"the loser must name the race, got: ${e.getMessage}")
      // exactly ONE version-1 directory survives — the winner's,
      // committed; the loser's staging is gone (A collected it as
      // uncommitted debris, and B's failure path deletes any remnant)
      val v1s = Option(sig.listFiles).toSeq.flatten
        .filter(_.getName.startsWith("v=1")).toSeq
      assert(v1s.size == 1 && new File(v1s.head, "_graft_commit").exists,
        s"want one committed version-1 fold, got: ${v1s.map(_.getName)}")
      // the table resolves to the winner's fold, content intact
      assert(table() == want)
      // and the NEXT (sequential) compaction proceeds normally from it
      compactSignatureTable(spark, sig.toString, ckpt.toString, targetFiles = 1)
      assert(committedV(sig, 2) && table() == want)
    } finally Fs.rmTree(root)
  }

  test("a pre-versioned flat signature table is refused with the exact " +
      "migration remedy, and the migration makes it readable") {
    import operators.Dedup.{readSignatureTable, signatures, sigTableMeta}
    val root = TestScratch.dir("graft_sigflat_").toFile
    val sig = new File(root, "sig")
    try {
      // fabricate the round-9 flat layout: partitions + stamp at top level
      signatures(corpusA).select("doc_id", "sig")
        .withColumn("ingest_batch", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest_batch")
        .parquet(sig.toString)
      java.nio.file.Files.write(new File(sig, "_graft_meta.json").toPath,
        sigTableMeta.getBytes("UTF-8"))

      val e = intercept[RuntimeException](readSignatureTable(spark, sig.toString))
      assert(e.getMessage.contains("FLAT") && e.getMessage.contains("v=0"),
        s"must name the migration, got: ${e.getMessage}")

      // perform exactly the documented migration
      val v0 = new File(sig, "v=0"); v0.mkdirs()
      Option(sig.listFiles).toSeq.flatten
        .filter(f => f.getName.startsWith("ingest_batch=") ||
          f.getName == "_graft_meta.json" ||
          f.getName.startsWith(".")) // local-FS .crc twins of the data files
        .foreach(f => assert(f.renameTo(new File(v0, f.getName))))
      java.nio.file.Files.write(new File(v0, "_graft_commit").toPath,
        Array.empty[Byte])
      assert(readSignatureTable(spark, sig.toString).count() == 5,
        "the migrated table reads under the versioned protocol")
    } finally Fs.rmTree(root)
  }

  test("streaming result equals the sequential batch dedupAgainst " +
      "composition it promises") {
    import operators.Dedup.{dedupAgainst, signatures}
    val seed = signatures(corpusA).select("doc_id", "sig")
    val kept0 = dedupAgainst(seed, batch0)
    val table1 = seed.unionByName(
      signatures(kept0).select("doc_id", "sig"))
    val kept1 = dedupAgainst(table1, batch1)
    assert(kept0.select("doc_id").collect().map(_.getLong(0)).toSet == Set(13L, 14L))
    assert(kept1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(24L))
  }
}
