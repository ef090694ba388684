package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: writes a `factor`× copy of a driver
  * testdata dir (default 10× of sf0.1 → a local sf1) for the scale
  * rehearsal — the driver's generator is not available locally, so the
  * rehearsal fixture is derived from the largest driver fixture by key
  * remapping. Verify + the DuckDB oracle then run on the derived dir
  * unchanged (both engines read the same files, so correctness checks
  * are as strict as at sf0.1), and Bench measures how each query's cost
  * actually grows one order of magnitude past the driver scale.
  *
  * Construction — `factor` copies unioned in one scan, copy 0 verbatim:
  *  - dimension tables (region, nation) stay fixed, as in TPC-H: group
  *    counts hold, rows per group grow — the realistic direction;
  *  - every surrogate/foreign BIGINT key shifts by copy·10^7, so FK
  *    joins land within a copy and per-copy join fan-outs replicate;
  *  - `documents.text` in copy c > 0 gets the copy's two-letter tag
  *    (aa..zz — stays within [a-z] so the shingler keeps it) appended to
  *    every word (n_chars recomputed): an injective per-copy renaming of
  *    the vocabulary, so the WITHIN-copy duplicate/shingle structure is
  *    preserved exactly while copies share no text, no md5, and no
  *    shingle — dedup pair counts scale linearly (10 verbatim copies
  *    would square them: m copies of one text → m²/2 candidate pairs,
  *    measuring the fixture, not the operator);
  *  - `embeddings.embedding` in copy c > 0 flips the sign of a
  *    per-(copy, dim) md5-parity subset of dimensions. Negating a fixed
  *    dim subset on BOTH sides of a pair cancels in the dot product
  *    (s_j² = 1), so within-copy cosines and norms are preserved
  *    BIT-EXACTLY while cross-copy pairs decorrelate (~half the terms
  *    flip sign) — near-dup pair counts scale linearly and the copy-0
  *    query vectors (vec_id < 8) keep their original neighborhoods.
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> [factor] [filesPerTable] [tables] [clusterBy]
  *
  * `filesPerTable` > 1 switches the output to the Spark-native
  * DIRECTORY layout (`<t>.parquet/part-*.parquet`, that many files):
  * the shape every real deployment has, and the one that scans
  * partition-parallel. Default 1 mirrors the driver's one-file layout.
  *
  * `tables` (comma-separated) restricts the derivation to a subset —
  * the third-decade probe derives only documents+embeddings at
  * factor 1000 rather than paying a 600M-row lineitem it never reads.
  */
object ScaleUp {

  private val STRIDE = 10000000L

  def main(args: Array[String]): Unit = {
    val (in, out) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val filesPerTable = args.lift(3).map(_.toInt).getOrElse(1)
    val tables = args.lift(4)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // optional arg 6: cluster multi-file tables by this column (range
    // partition + in-file sort) — the ingest-order layout for event data
    val clusterBy = args.lift(5).filter(_.nonEmpty)
    Session.run(Session.cpus) { spark =>
      run(spark, in, out, factor, filesPerTable, tables, clusterBy)
      s"[scaleup] wrote ${factor}x of $in to $out"
    }
  }

  /** The derivation itself, on a caller-owned session (ScaleUpSpec pins
    * the structural invariants the sf1 rehearsal's claims rest on).
    */
  def run(spark: SparkSession, in: String, out: String, factor: Int,
      filesPerTable: Int = 1, tables: Option[Set[String]] = None,
      clusterBy: Option[String] = None): Unit = {
    // the per-copy vocabulary rename appends letters within [a-z] — the
    // dedup shingler splits on [^a-z], and a suffix outside that class
    // would be stripped, silently collapsing copies back onto copy 0's
    // shingle vocabulary and squaring the pair counts the derivation
    // exists to keep linear. The tag width is UNIFORM per run (2 letters
    // up to 676 copies — byte-identical to every earlier rehearsal
    // fixture — 3 beyond, up to 26^3), so no two (word, tag) pairs of
    // different copies can concatenate to the same string within a run.
    require(factor >= 1 && factor <= 17576,
      s"ScaleUp: factor $factor out of range — the three-letter per-copy " +
        "vocabulary rename supports at most 26^3 copies")
    val tagLen = if (factor <= 676) 2 else 3
    require(tables.forall(_.nonEmpty), "ScaleUp: empty tables filter")

    def read(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")
    // one FILE per table, exactly the driver fixture layout: the stream
    // source scopes itself with pathGlobFilter=events.parquet (a single
    // name), and the DuckDB oracle reads the same single paths — a
    // directory-shaped table would silently read as 0 rows there. The
    // single ~100 MB file is also the honest 10x of the driver's own
    // one-file-per-table layout for bench comparison; a real cluster
    // dataset is many files (see SCALE.md, Scans & layout).
    def write(df: DataFrame, t: String): Unit = {
      if (filesPerTable > 1) {
        // clusterBy writes the INGEST-CLUSTERED layout (range-partitioned
        // + sorted files on the named column, where present) instead of
        // the round-robin shuffle, whose RANDOM row order is a layout no
        // real event lake has — ingestion appends in arrival order, so
        // event time is file-local. The difference is not cosmetic:
        // session-window aggregation over the random layout measured
        // ~14x the clustered layout's wall at 10M events (SCALE.md,
        // round 12).
        clusterBy.filter(df.columns.contains) match {
          case Some(c) =>
            df.repartitionByRange(filesPerTable, col(c))
              .sortWithinPartitions(c)
              .write.mode("overwrite").parquet(s"$out/$t.parquet")
          case None =>
            df.repartition(filesPerTable).write.mode("overwrite")
              .parquet(s"$out/$t.parquet")
        }
        return
      }
      val tmp = s"$out/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val part = Option(tmpDir.listFiles).toSeq.flatten
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dest = new java.io.File(s"$out/$t.parquet")
      if (dest.exists && !dest.delete())
        sys.error(s"cannot replace $dest")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      Option(tmpDir.listFiles).toSeq.flatten.foreach(_.delete())
      tmpDir.delete(); ()
    }

    // one scan fanned to `factor` copies via a tiny cross join
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).select(col("id").as("copy")))
    // copy-shift every key by copy·STRIDE — only sound when every base
    // key fits under one stride. Running ScaleUp on an ALREADY-derived
    // dir (keys up to factor·STRIDE) would silently interleave copies'
    // key ranges, corrupting FK joins and dedup ids while per-engine
    // Verify still passes (both engines read the same wrong data), so
    // the probe fails loudly instead. One 1-row max per table — a
    // fixture-tool driver touchpoint, not an operator.
    def shifted(df: DataFrame, t: String, keys: String*): DataFrame = {
      val kc = keys.map(col).reduce((a, b) => greatest(a, b))
      val mx = df.agg(max(kc)).head().getLong(0)
      require(mx < STRIDE,
        s"ScaleUp: max($t.{${keys.mkString(",")}}) = $mx >= stride $STRIDE — " +
          "the input looks already ScaleUp-derived (or its keys outgrow the " +
          "stride); copies' key ranges would overlap. Derive from the " +
          "ORIGINAL fixture with a larger factor instead of chaining.")
      keys.foldLeft(copies(df))((d, k) =>
        d.withColumn(k, col(k) + col("copy") * STRIDE))
    }

    // fixed-width base-26 tag of (copy - 1): most-significant letter
    // first, so tag(0) = "aa"/"aaa" and every tag has exactly tagLen
    // letters — uniform width is what rules out cross-copy collisions
    val tagCols = (tagLen - 1 to 0 by -1).map(k =>
      chr(lit(97) + pmod(expr(s"(copy - 1) div ${math.pow(26, k).toLong}"),
        lit(26))))

    def wants(t: String): Boolean = tables.forall(_.contains(t))
    def ifWanted(t: String)(w: => Unit): Unit = if (wants(t)) w

    Seq("region", "nation").foreach(t => ifWanted(t)(write(read(t), t)))
    ifWanted("customer")(
      write(shifted(read("customer"), "customer", "c_custkey").drop("copy"), "customer"))
    ifWanted("supplier")(
      write(shifted(read("supplier"), "supplier", "s_suppkey").drop("copy"), "supplier"))
    ifWanted("part")(
      write(shifted(read("part"), "part", "p_partkey").drop("copy"), "part"))
    ifWanted("orders")(
      write(shifted(read("orders"), "orders", "o_orderkey", "o_custkey")
        .drop("copy"), "orders"))
    ifWanted("lineitem")(
      write(shifted(read("lineitem"), "lineitem", "l_orderkey", "l_partkey", "l_suppkey")
        .drop("copy"), "lineitem"))
    ifWanted("events")(
      write(shifted(read("events"), "events", "event_id", "user_id")
        .drop("copy"), "events"))

    ifWanted("documents")(
      write(shifted(read("documents"), "documents", "doc_id")
        .withColumn("text", when(col("copy") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("([a-z]+)"),
            concat((lit("$1") +: tagCols): _*))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("copy"), "documents"))

    ifWanted("embeddings")(
      write(shifted(read("embeddings"), "embeddings", "vec_id")
        .withColumn("embedding", when(col("copy") === 0, col("embedding"))
          .otherwise(expr(
            """transform(embedding, (x, j) ->
              |  CASE WHEN pmod(ascii(substr(md5(concat(copy, '_', j)), 1, 1)), 2) = 1
              |  THEN -x ELSE x END)""".stripMargin)))
        .drop("copy"), "embeddings"))
    ()
  }
}
