package graft

import org.apache.spark.sql.functions._

/** Round-11 operators, proven on planted inputs through the PRODUCTION
  * query entries (not expression copies): two-pass heavy hitters,
  * bounded-error approximate percentiles, and PERMISSIVE corrupt-record
  * ingest.
  */
class Round11Spec extends SparkSpec {

  // ---- heavy hitters --------------------------------------------------

  private lazy val hotDir: String = {
    val dir = TestScratch.dir("graft_r11_hot_")
    import spark.implicits._
    // 3 docs x 100 tokens = 300 tokens; "hot" appears 30 times, every
    // other word exactly once -> threshold n*200 > 300 keeps only "hot".
    // Fillers must be pure lowercase letters: the tokenizer splits on
    // [^a-z]+, so a digit inside a filler would fragment it.
    val rows = (0 until 3).map { d =>
      val fill = (0 until 90).map(i =>
        s"fill${('a' + d).toChar}${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
      (d.toLong, (Seq.fill(10)("hot") ++ fill).mkString(" "))
    }
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("heavy hitters: planted hot token is found with its exact count " +
      "and ppm share; singletons are excluded") {
    val rows = operators.TextAnalysis.queries("text_heavy_hitters")(spark, hotDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("hot", 30L, 100000L)),
      s"expected exactly the planted hitter: ${rows.toSeq}")
  }

  test("heavy hitters: equals the exact filter on the fixture corpus " +
      "(MG candidates are a superset, recount restores exactness)") {
    val got = operators.TextAnalysis.queries("text_heavy_hitters")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(expr("filter(split(text, '[^a-z]+'), x -> x <> '')")).as("w"))
    val n = words.count()
    val exact = words.groupBy("w").agg(count(lit(1)).as("n"))
      .filter(col("n") * 200 > n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exact, s"two-pass result must equal the exact filter:" +
      s" only in got=${got.diff(exact)}, only in exact=${exact.diff(got)}")
  }

  // ---- approximate percentiles ----------------------------------------

  test("approx percentile: sketch lands inside its own rank-error bound " +
      "and exact quantiles match the direct computation") {
    val rows = operators.RelationalExt
      .queries("rel_approx_percentile")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4),
        s"approx_percentile outside its rank-error bound: $r")
    }
    val exact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("q50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(r.getDouble(1) == exact(r.getString(0))))
  }

  // ---- corrupt-record ingest ------------------------------------------

  test("bad records: the _corrupt quarantine bucket carries exactly the " +
      "planted malformed lines, good buckets the rest") {
    val rows = operators.Sources.queries("src_bad_records")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nBad = docs.filter(col("doc_id") % 37 === 0).count()
    val nGood = docs.count() - nBad
    val corrupt = rows.filter(_._1 == "_corrupt")
    assert(corrupt.map(_._2).sum == nBad && corrupt.map(_._3).sum == nBad,
      s"quarantine bucket wrong: $rows (want $nBad)")
    val good = rows.filterNot(_._1 == "_corrupt")
    assert(good.map(_._2).sum == nGood && good.forall(_._3 == 0L),
      s"good buckets wrong: $rows (want $nGood)")
  }
}
