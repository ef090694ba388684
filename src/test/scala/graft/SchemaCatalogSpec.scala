package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.DataFrame

/** Pins the schema catalog behind [[Tables.table]]: a repeated read of an
  * unchanged table starts no Spark job, and a table rewritten at the same
  * path — single-file fixture layout or ScaleUp's part-file directory
  * layout — is inferred again and reads its new columns.
  */
class SchemaCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  private def tempDir(): String = {
    val d = Files.createTempDirectory("graft_catalog").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** `df` as the single file `dir/t.parquet`, the fixture layout. */
  private def writeFile(df: DataFrame, dir: String, t: String): Unit = {
    val tmp = s"$dir/_tmp_$t"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    Files.move(part.toPath, new java.io.File(s"$dir/$t.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `df` as a directory of part files, the layout ScaleUp writes. */
  private def writeParts(df: DataFrame, dir: String, t: String): Unit =
    df.repartition(3).write.mode("overwrite").parquet(s"$dir/$t.parquet")

  test("a second read of an unchanged table starts no Spark job") {
    val dir = tempDir()
    writeFile(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, "t")
    val (first, firstJobs) = Jobs.inGroup(sc)(Tables.table(spark, dir, "t"))
    assert(firstJobs >= 1, "the first read infers the schema with a job")
    val (second, secondJobs) = Jobs.inGroup(sc)(Tables.table(spark, dir, "t"))
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(second.as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a"), (2, "b")))
    // the fixture tables the query surface reads go the same way
    Tables.lineitem(spark, sfDir)
    assert(Jobs.inGroup(sc)(Tables.lineitem(spark, sfDir))._2 == 0)
  }

  for ((layout, write) <- Seq[(String, (DataFrame, String, String) => Unit)](
      "single-file" -> writeFile, "part-file directory" -> writeParts)) {
    test(s"a $layout table rewritten with other columns is inferred again") {
      val dir = tempDir()
      write(Seq((1L, "x")).toDF("id", "old_col"), dir, "t")
      assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "old_col"))
      Tables.table(spark, dir, "t") // now served from the catalog
      write(Seq((2L, 3.5, "y")).toDF("id", "score", "new_col"), dir, "t")
      val (df, jobs) = Jobs.inGroup(sc)(Tables.table(spark, dir, "t"))
      assert(jobs >= 1, "a rewritten table must be inferred again")
      assert(df.columns.toSeq == Seq("id", "score", "new_col"))
      assert(df.as[(Long, Double, String)].collect().toSeq == Seq((2L, 3.5, "y")))
    }
  }

  test("a missing table still fails with Spark's own error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.table(spark, tempDir(), "absent"))
    assert(e.getMessage.contains("absent.parquet"))
  }
}
