package graft

import org.apache.spark.sql.functions._

/** Unit tests with tiny in-memory frames + smoke over every registered
  * query (each must run and return its declared sorted output).
  */
class OperatorSpec extends SparkSpec {

  test("every registered query runs on sf0.001 and is non-degenerate") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val results = SparkEntry.queries.map { case (name, fn) =>
      val df = fn(spark, sfDir)
      name -> df.count()
    }
    // candidate-pair queries can legitimately be small but not negative;
    // everything else must produce rows
    val mustBeNonEmpty = results.filterNot { case (n, _) =>
      n.contains("pairs") || n == "sim_topk_lsh" || n.contains("anti")
    }
    val empty = mustBeNonEmpty.filter(_._2 == 0L).keys.toSeq
    assert(empty.isEmpty, s"empty results: $empty")
    // the session store's release alone — no getPersistentRDDs backstop,
    // the session kept open — frees every block the sweep memoized,
    // tracked or materialized, checkpoints included
    Materialize.clear()
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty,
      s"persisted RDDs the store did not release: ${left.values.mkString("; ")}")
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("join types on tiny frames") {
    import spark.implicits._
    val l = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val r = Seq((1, "x"), (1, "y"), (4, "z")).toDF("id", "w")
    assert(l.join(r, Seq("id"), "inner").count() == 2)
    assert(l.join(r, Seq("id"), "left").count() == 4)
    assert(l.join(r, Seq("id"), "left_semi").as[(Int, String)].collect().toSet ==
      Set((1, "a")))
    assert(l.join(r, Seq("id"), "left_anti").select("id").as[Int].collect().toSet ==
      Set(2, 3))
    assert(l.crossJoin(r).count() == 9)
  }

  test("dedup keeps exactly the min-doc_id keeper per distinct text") {
    // independently recompute the keeper set (doc_id is unique, so a
    // doc_id-based re-dedup of the output could never fail — the real
    // invariants are one keeper per distinct text, and it's the MIN one)
    val once = operators.Dedup.queries("dedup_exact_keep")(spark, sfDir)
    val expected = Tables.documents(spark, sfDir)
      .groupBy(md5(col("text"))).agg(min("doc_id").as("doc_id"))
    assert(once.count() == expected.count(), "one keeper per distinct text")
    assert(once.select("doc_id").except(expected.select("doc_id")).count() == 0,
      "every keeper is its text group's min doc_id")
  }

  test("windows: row_number bounded by partition size") {
    val df = operators.Relational.queries("rel_window_rank")(spark, sfDir)
    assert(df.agg(max("rn")).head().getLong(0) <= 3)
  }

  test("topk returns exactly k ordered rows") {
    val df = operators.Relational.queries("rel_topk")(spark, sfDir)
    val prices = df.collect().map(_.getDouble(2)).toSeq
    assert(prices.length == 100)
    assert(prices == prices.sortBy(-_))
  }

  test("cosine similarity: self-similarity is 1") {
    import org.apache.spark.sql.graft.VectorColumns.{vecDot, vecNorm}
    // the named invariant, asserted directly: dot(v,v)/|v||v| == 1 for
    // every non-zero embedding (the pair/topk queries exclude self-pairs,
    // so they can never witness it)
    val self = Tables.embeddings(spark, sfDir)
      .select(vecNorm(col("embedding")).as("n"),
        (vecDot(col("embedding"), col("embedding")) /
          (vecNorm(col("embedding")) * vecNorm(col("embedding")))).as("s"))
      .where(col("n") > 0) // zero vectors have no cosine (0/0 = NaN)
    assert(self.count() > 0, "fixture must contribute non-zero vectors")
    assert(self.where(abs(col("s") - 1.0) > 1e-9).count() == 0,
      "self-cosine must be 1 for non-zero vectors")
    // and the query surface stays bounded to [-1, 1]
    val sim = operators.Similarity.queries("sim_cos_pairs")(spark, sfDir)
    val brute = operators.Similarity.queries("sim_topk_brute")(spark, sfDir)
    val sims = brute.collect().map(_.getDouble(3))
    assert(sims.forall(s => s >= -1.000001 && s <= 1.000001))
    assert(sim.columns.toSeq == Seq("va", "vb", "label", "sim"))
  }

  test("PPM codec round-trips, rejects garbage, and halves exactly") {
    import operators.Multimodal.PpmCodec
    val img = PpmCodec.synthesize("hello world".getBytes)
    val back = PpmCodec.decode(PpmCodec.encode(img))
    assert(back.width == img.width && back.height == img.height)
    assert(java.util.Arrays.equals(back.pixels, img.pixels))
    // header tokenizer handles comments and extra whitespace (netpbm spec)
    val commented = ("P6 #c\n# full comment line\n " +
      s"${img.width}\t${img.height}\n255\n")
      .getBytes("US-ASCII") ++ img.pixels
    assert(PpmCodec.decode(commented).brightness == img.brightness)
    val empty = PpmCodec.synthesize(Array.emptyByteArray)
    assert(empty.width >= 16 && empty.height >= 16 && empty.brightness == 0.0)
    intercept[IllegalArgumentException] {
      PpmCodec.decode("JFIF....".getBytes)
    }
    intercept[IllegalArgumentException] { // w*h*3 overflows Int to 0
      PpmCodec.decode("P6\n65536 65536\n255\n".getBytes)
    }
    intercept[IllegalArgumentException] { // digit accumulation must not wrap
      PpmCodec.decode(("P6\n4294967297 1\n255\n" + "xxx").getBytes)
    }
    intercept[IllegalArgumentException] { // truncated plane
      PpmCodec.decode(PpmCodec.encode(img).dropRight(1))
    }
    val half = PpmCodec.halve(img)
    assert(half.width == img.width / 2 && half.height == img.height / 2)
    // nearest-neighbor: output (0,0) is input (0,0), output (1,0) is input (2,0)
    assert(half.pixels(0) == img.pixels(0))
    assert(half.pixels(3) == img.pixels(6))
  }
}
