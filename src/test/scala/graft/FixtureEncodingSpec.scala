package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Locks the fixture-encoding compat matrix for `Tables.events`.
  *
  * The driver regenerates /root/testdata between rounds and has already
  * shipped `events.ts` in two physical encodings (parquet
  * TIMESTAMP(NANOS) read as long under `nanosAsLong`, then naive
  * TIMESTAMP(MICROS) that Spark 4 would infer as TIMESTAMP_NTZ). The
  * loader — [[Tables.tsCompatConfs]] plus the LongType branch in
  * [[Tables.events]] — must read every encoding that has ever appeared,
  * plus the ordinary UTC-adjusted one, to the SAME TimestampType
  * instants, or a silent re-encode breaks round entry on every
  * timestamp query at once.
  */
class FixtureEncodingSpec extends SparkSpec {
  import spark.implicits._

  // wall-clock micros under the project's pinned UTC session; includes a
  // sub-millisecond component so ns→µs truncation bugs can't hide
  private val wallClocks = Seq(
    "2024-01-02 03:04:05.123456",
    "1969-12-31 23:59:59.000001", // pre-epoch: sign-sensitive ns→µs
    "2026-08-13 00:00:00")

  private def writeDir(): String = {
    val d = TestScratch.dir("graft_enc").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def readInstants(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"loader must yield TIMESTAMP (LTZ), got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
  }

  test("events loader reads all historical ts encodings identically") {
    val base = wallClocks.toDF("s")

    // (a) UTC-adjusted TIMESTAMP(MICROS) — the plain encoding
    val ltzDir = writeDir()
    base.select(col("s").cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(s"$ltzDir/events.parquet")

    // (b) naive TIMESTAMP(MICROS) (isAdjustedToUTC=false) — current
    // fixtures; without inferTimestampNTZ=false this reads as NTZ
    val ntzDir = writeDir()
    base.select(col("s").cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    // (c) nanosecond longs — TIMESTAMP(NANOS) under nanosAsLong lands
    // here; synthesized as the long column that read path produces
    val nsDir = writeDir()
    base.select((unix_micros(col("s").cast("timestamp")) * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")

    val want = wallClocks
      .map(s => java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC))
      .map(i => Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
      .sorted

    // (d) nanos with a sub-microsecond remainder — every value offset by
    // +789 ns, so none is a multiple of 1000 and the pmod FLOOR branch of
    // Tables.nsToMicrosTs is actually exercised (case (c) alone never
    // hits it); includes the pre-epoch value, where truncate-toward-zero
    // would land 1 µs late
    val nsFracDir = writeDir()
    base.select((unix_micros(col("s").cast("timestamp")) * 1000L + 789L).as("ts"))
      .write.mode("overwrite").parquet(s"$nsFracDir/events.parquet")

    // each directory twice: the first read infers its schema, the
    // second is served from Tables' schema catalog
    for (read <- Seq("inferred", "cataloged")) {
      assert(readInstants(ltzDir) == want, s"UTC-adjusted micros, $read")
      assert(readInstants(ntzDir) == want, s"naive micros (NTZ-shaped), $read")
      assert(readInstants(nsDir) == want, s"nanos-as-long, $read")
      assert(readInstants(nsFracDir) == want,
        s"nanos-as-long with sub-µs remainder, $read")
    }
  }

  test("loader pins session.timeZone=UTC, so a non-UTC host session " +
      "still reads naive fixtures to oracle instants") {
    val ntzDir = writeDir()
    wallClocks.toDF("s").select(col("s").cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val want = readInstants(ntzDir)
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try assert(readInstants(ntzDir) == want,
      "tsCompatConfs must repin UTC before the NTZ->LTZ reinterpretation")
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }
}
