package graft

import org.apache.spark.sql.functions._

/** The streaming source must read BOTH physical layouts of the events
  * table: the driver fixture's single `events.parquet` FILE (covered by
  * every stream_* oracle run) and the Spark-written DIRECTORY of part
  * files — which is what every real deployment's table looks like, and
  * which the name-scoped pathGlobFilter alone cannot see into (it
  * matches leaf-file names; a directory's leaves are part-*.parquet).
  * Round 9's first sf1 derivation hit exactly this: all six stream
  * queries silently returned 0 rows against directory-shaped tables
  * while every batch query passed.
  *
  * Proof: materialize the same events rows in both layouts, run the
  * registry's stream_tumbling (stream path) and event_tumbling (batch
  * twin) on each — all four results must be row-identical, and the
  * dir-layout stream must actually be non-empty.
  */
class StreamDirLayoutSpec extends SparkSpec {

  test("stream source reads directory-shaped events.parquet identically " +
      "to the single-file driver layout") {
    val src = Tables.events(spark, "/root/testdata/sf0.001")
    val root = TestScratch.dir("graft_dirlayout_").toFile
    val (fileDir, dirDir) = (new java.io.File(root, "as_file"),
      new java.io.File(root, "as_dir"))
    try {
      // dir layout: plain Spark write, several part files
      src.repartition(3).write.parquet(s"$dirDir/events.parquet")
      assert(new java.io.File(s"$dirDir/events.parquet").isDirectory)
      // file layout: single part file moved to the bare table name
      val tmp = new java.io.File(root, "tmp")
      src.coalesce(1).write.parquet(tmp.toString)
      fileDir.mkdirs()
      val part = Option(tmp.listFiles).toSeq.flatten
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file under $tmp"))
      java.nio.file.Files.move(part.toPath,
        new java.io.File(fileDir, "events.parquet").toPath)

      def run(q: String, d: String): Seq[Row] =
        SparkEntry.queries(q)(spark, d).collect().toSeq
      type Row = org.apache.spark.sql.Row

      val batchFile = run("event_tumbling", fileDir.toString)
      val batchDir = run("event_tumbling", dirDir.toString)
      val streamFile = run("stream_tumbling", fileDir.toString)
      val streamDir = run("stream_tumbling", dirDir.toString)

      assert(batchFile.nonEmpty, "fixture must produce windows")
      assert(batchDir == batchFile, "batch loader: layouts agree")
      assert(streamFile == batchFile, "single-file stream == batch twin")
      assert(streamDir == batchFile,
        "directory-layout stream must match, not return 0 rows")
    } finally Fs.rmTree(root)
  }
}
