package graft

import java.io.File
import java.sql.Timestamp

/** Stream checkpoint RECOVERY, the r6 verdict's top item: stop the
  * production tumbling-append pipeline mid-input, restart it from the
  * SAME checkpoint dir with more input present, and prove the final
  * sink equals both a single-run reference and a hand-computed answer —
  * no lost windows, no re-emitted ones. This is the one property a
  * production pipeline operator leans on daily, and the exact opposite
  * of the reference's failure story (worker.cc drops failed work
  * silently — the behavior SURVEY bans).
  *
  * Runs the PRODUCTION code ([[operators.Sources.runTumblingAppend]],
  * the same pipeline `stream_tumbling_append` executes), never a spec
  * copy; covered on both a disk root and a tmpfs root because the two
  * are exactly the split that produced the r5 driver-host outliers.
  *
  * The planted timeline (2-hour watermark, 1-hour tumbling windows):
  * phase 1's max event time 14:30 puts the stop-point watermark at
  * 12:30, so the stopped run has emitted ONLY the 10:00/11:00 windows
  * while 12:00 and 14:00 sit in state; phase 2 then adds an event at
  * 12:50 that must MERGE into the checkpointed 12:00-window state
  * (>= the 12:30 watermark, so not late), plus later events pushing
  * the final watermark to 16:30. A restart that lost state would
  * under-count (12:00, a); one that replayed phase 1 would duplicate
  * the 10:00/11:00 rows; both break the multiset equality below.
  */
class StreamRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Epoch-aligned hour bucket, matching window(ts, "1 hour").start. */
  private def bucket(s: String): Long = ts(s).getTime / 1000 / 3600 * 3600

  /** (ts, user_id, event_type, value) rows as ONE parquet file named
    * `dest` — the streaming source's pathGlobFilter matches leaf file
    * names, so the file must sit directly in the input dir like the
    * fixture's events.parquet (a directory-shaped Spark write would
    * hide its part files from the glob).
    */
  private def writeEventsFile(rows: Seq[(Timestamp, Long, String, Double)],
      dest: File): Unit = {
    val tmp = TestScratch.dir("graft_evwrite_")
    rows.toDF("ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Option(tmp.toFile.listFiles).toSeq.flatten
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Fs.rmTree(tmp.toFile)
  }

  private val phase1 = Seq(
    (ts("2024-01-01 10:05:00"), 1L, "a", 1.0),
    (ts("2024-01-01 10:10:00"), 2L, "b", 2.0),
    (ts("2024-01-01 11:05:00"), 1L, "a", 3.0),
    (ts("2024-01-01 12:05:00"), 3L, "a", 4.0),
    (ts("2024-01-01 12:45:00"), 2L, "b", 5.0),
    (ts("2024-01-01 14:30:00"), 1L, "a", 6.0))

  private val phase2 = Seq(
    // >= the 12:30 stop-point watermark: merges into checkpointed state
    (ts("2024-01-01 12:50:00"), 4L, "a", 7.0),
    (ts("2024-01-01 15:05:00"), 2L, "b", 8.0),
    (ts("2024-01-01 16:05:00"), 1L, "a", 9.0),
    // pushes the final watermark to 17:30, past the 16:00 window's END
    // (windows finalize on end <= watermark); its own 19:00 window
    // stays open forever (never emitted in append mode) in BOTH the
    // restart and the single-run reference
    (ts("2024-01-01 19:30:00"), 5L, "c", 0.5))

  private val expectedAfterStop = Seq(
    (bucket("2024-01-01 10:00:00"), "a", 1L, 1.0),
    (bucket("2024-01-01 10:00:00"), "b", 1L, 2.0),
    (bucket("2024-01-01 11:00:00"), "a", 1L, 3.0))

  private val expectedFinal = expectedAfterStop ++ Seq(
    (bucket("2024-01-01 12:00:00"), "a", 2L, 11.0), // 12:05 + post-restart 12:50
    (bucket("2024-01-01 12:00:00"), "b", 1L, 5.0),
    (bucket("2024-01-01 14:00:00"), "a", 1L, 6.0),
    (bucket("2024-01-01 15:00:00"), "b", 1L, 8.0),
    (bucket("2024-01-01 16:00:00"), "a", 1L, 9.0))

  /** One run of the production pipeline over `input` into the sink and
    * checkpoint under `base`; returns the sink's rows, sorted.
    */
  private def run(input: File, base: File): Seq[(Long, String, Long, Double)] =
    operators.Sources.runTumblingAppend(spark, input.getPath, base.getPath,
        glob = Some("events*.parquet"))
      .as[(Long, String, Long, Double)].collect().toSeq.sorted

  /** The full stop/restart scenario against sink+checkpoint dirs under
    * `baseRoot`. Sorted-Seq (multiset) compares throughout: a window
    * re-emitted by a bad restart has the right VALUES, so a Set compare
    * would absorb exactly the duplicate this spec exists to catch.
    */
  private def runScenario(baseRoot: File): Unit = {
    val input = TestScratch.dir("graft_recovery_in_").toFile
    val twoPhase = new File(baseRoot, "twophase")
    val single = new File(baseRoot, "single")
    try {
      writeEventsFile(phase1, new File(input, "events.parquet"))
      assert(run(input, twoPhase) == expectedAfterStop.sorted,
        "stopped run emitted the wrong prefix — stop point is not where the timeline plants it")

      writeEventsFile(phase2, new File(input, "events2.parquet"))
      // SAME checkpoint dir — this is the restart
      val recovered = run(input, twoPhase)

      // single-run reference: fresh checkpoint over the final input
      assert(recovered == run(input, single),
        "restart from checkpoint diverged from the single-run result")
      assert(recovered == expectedFinal.sorted,
        "recovered result does not match the hand-computed windows")
    } finally {
      Fs.rmTree(input)
      Fs.rmTree(twoPhase)
      Fs.rmTree(single)
    }
  }

  test("tumbling-append restart from the same checkpoint dir loses and duplicates nothing (disk root)") {
    val base = TestScratch.dir("graft_recovery_disk_").toFile
    try runScenario(base) finally Fs.rmTree(base)
  }

  test("tumbling-append restart from the same checkpoint dir loses and duplicates nothing (tmpfs root)") {
    assume(Fs.streamScratchRoot == "/dev/shm",
      s"stream scratch root is ${Fs.streamScratchRoot}, not tmpfs")
    val base = new File(Fs.streamScratch("spec_recovery"))
    base.mkdirs()
    try runScenario(base) finally Fs.rmTree(base)
  }
}
