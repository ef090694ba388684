package graft

import org.apache.spark.sql.functions._

/** Planted-payload soundness of the frame-sampling access pattern, end
  * to end through the production query: a payload of known bytes must
  * yield exactly the hand-computed 256-byte frame digests at exactly
  * the every-4th sample positions — the seek arithmetic (1-based
  * substring offsets, the div-256 frame count, the %4 keep filter) is
  * precisely the code a byte-off error would silently corrupt on real
  * media.
  */
class MultimodalSoundnessSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("mm_framesample emits the hand-computed frame digests at " +
      "every-4th positions, with a short tail frame") {
    // 1200 chars -> frames 0..4 (tail frame 4 has 1200-1024=176 bytes);
    // the %4 filter keeps frames 0 and 4. A 10-char doc -> one frame.
    val longDoc = (0 until 1200).map(i => ('a' + i % 26).toChar).mkString
    val tiny = "shortfile!"
    val dir = TestScratch.dir("graft_mm_sound_")
    import spark.implicits._
    Seq((1L, longDoc), (2L, tiny))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Multimodal.queries("mm_framesample")(spark, dir.toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(got == Map(
      (1L, 0L) -> md5hex(longDoc.substring(0, 256)),
      (1L, 4L) -> md5hex(longDoc.substring(1024, 1200)),
      (2L, 0L) -> md5hex(tiny)), s"got $got")
  }
}
