package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale notes (100 TB stance): `spark.read.parquet` gives splittable,
  * column-pruned, predicate-pushdown scans; at cluster scale the same call
  * reads a partitioned directory tree and Catalyst prunes partitions. No
  * driver-side materialization happens here — these are lazy plans.
  *
  * Every read supplies its schema from one JVM-wide schema catalog
  * ([[schemaOf]]) instead of starting a footer-reading Spark job while
  * the query is still being built. The catalog is this engine's stand-in
  * for a metastore or table-format schema: keyed by path and file state
  * (a rewritten file is inferred again), and, as immutable metadata, the
  * one memo that [[Cleanup.releaseAll]] deliberately keeps. Checking an
  * entry costs a `getFileStatus` of the path and, for the directory
  * layout, one `listStatus` per directory ([[stamp]]), none of which
  * starts a process.
  */
object Tables {

  /** Timestamp-encoding compatibility confs, set on the session at every
    * table read so the registry is self-contained for a driver whose own
    * session builder omits them (all three are runtime-settable).
    *
    * NOTE this is a deliberate SESSION-WIDE side effect of a loader that
    * looks pure: any later parquet read on the same session also loses
    * TIMESTAMP_NTZ inference and gains nanosAsLong. That is the point —
    * the oracle contract pins one encoding semantics per session — but a
    * host embedding this library next to its own NTZ-dependent reads
    * should use a separate SparkSession.
    *
    *  - `nanosAsLong`: earlier fixture generations wrote `events.ts` as
    *    parquet TIMESTAMP(NANOS), which Spark refuses to read without the
    *    legacy flag; the loaders then normalize the long ns→µs.
    *  - `inferTimestampNTZ.enabled=false`: current fixtures write naive
    *    (isAdjustedToUTC=false) TIMESTAMP(MICROS) columns (`events.ts`,
    *    `orders.o_orderdate`, `lineitem.l_shipdate`), which Spark 4 would
    *    otherwise infer as TIMESTAMP_NTZ — a type that breaks epoch
    *    casts and streaming watermarks. With inference off, Spark reads
    *    the raw micros as a TIMESTAMP (LTZ) instant, i.e. naive-as-UTC —
    *    exactly what the DuckDB oracles compute under the UTC session
    *    this project pins everywhere.
    *  - `session.timeZone=UTC`: the naive→instant reinterpretation above
    *    (and the NTZ→LTZ cast in [[ntzToInstant]], and the streaming NTZ
    *    branch in Sources) all resolve the wall clock THROUGH the session
    *    timezone, so "self-contained" requires pinning it here too — an
    *    external driver session in, say, Asia/Tokyo would otherwise read
    *    the same fixtures to instants shifted 9 h from the DuckDB oracle.
    */
  private[graft] def tsCompatConfs(s: SparkSession): Unit =
    TsCompat.foreach { case (k, v) => s.conf.set(k, v) }

  /** The three confs [[tsCompatConfs]] pins; [[Session]] builds with them. */
  private[graft] val TsCompat: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    ntzToInstant(spark.read.schema(schemaOf(spark, path)).parquet(path))
  }

  /** What a table path's schema was inferred from: one (relative path,
    * length, modification time) per data file — the path itself for the
    * single-file layout, every part file for the directory layout.
    */
  private type Stamp = Vector[(String, Long, Long)]

  /** The schema catalog: table path → (stamp, schema inferred under
    * [[tsCompatConfs]]). One entry per path; a changed stamp replaces it.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]

  /** The schema a plain `spark.read.parquet(path)` would infer, read
    * from the footers once per file state instead of by a Spark job on
    * every read. Also pins [[tsCompatConfs]] on the session, as every
    * table read must.
    *
    * Catalog stance:
    *  - Production counterpart: a metastore or table-format schema. At
    *    100 TB the job this removes is a footer read over many part
    *    files, repeated on every query that reads the table.
    *  - Key: the path plus its [[Stamp]], never a SparkSession. The
    *    schema depends only on the files' bytes and the three confs
    *    [[tsCompatConfs]] pins before every inference (the other parquet
    *    inference confs stay at their defaults everywhere in this
    *    project). A file rewritten at the same path changes its length
    *    or modification time and is inferred again — a stale schema
    *    would read the new columns as missing and the dropped ones as
    *    silent nulls.
    *  - Lifecycle: entries are immutable metadata, so
    *    [[Cleanup.releaseAll]] deliberately does not release them — the
    *    one exception to "one lifecycle" for what a query memoizes.
    *  - A path that does not exist is not memoized: inference raises
    *    Spark's own error for it.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    tsCompatConfs(spark)
    def infer = spark.read.parquet(path).schema
    // stamped BEFORE inferring: a rewrite racing the inference leaves an
    // entry under the old stamp, which the next read re-infers
    stamp(spark, path) match {
      case None => infer
      case Some(st) =>
        val hit = schemas.get(path)
        if (hit != null && hit._1 == st) hit._2
        else {
          val schema = infer
          schemas.put(path, (st, schema))
          schema
        }
    }
  }

  /** The [[Stamp]] of a table path, `None` when it does not exist. The
    * directory walk is `listStatus`, reading only path, length and
    * modification time: `listFiles` builds a `LocatedFileStatus` per
    * file, which reads the file's owner and permission, and Hadoop's
    * local file system without libhadoop reads those by an `ls -ld`
    * process per file (SCALE.md, "Local file I/O").
    */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root =
      try Some(fs.getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    root.map { st =>
      if (!st.isDirectory) Vector(("", st.getLen, st.getModificationTime))
      else {
        val prefix = st.getPath.toUri.getPath.length
        def walk(dir: Path): Seq[(String, Long, Long)] =
          fs.listStatus(dir).toSeq.flatMap { f =>
            if (f.isDirectory) walk(f.getPath)
            else Seq((f.getPath.toUri.getPath.substring(prefix),
              f.getLen, f.getModificationTime))
          }
        walk(st.getPath).toVector.sortBy(_._1)
      }
    }
  }

  /** Defensive NTZ→LTZ normalization: `inferTimestampNTZ=false` only
    * governs schema INFERENCE, so a file that carries an explicit Spark
    * schema with TIMESTAMP_NTZ columns (e.g. a fixture regenerated by a
    * Spark writer instead of pyarrow) still reads back as NTZ. Under the
    * project's pinned UTC session the cast reinterprets the naive wall
    * clock as a UTC instant — the same semantics the inference flag
    * gives pyarrow-written files — so every encoding converges on
    * TIMESTAMP (LTZ). No-op (and no plan change) when no NTZ column is
    * present, which is the case for all current fixtures.
    */
  private def ntzToInstant(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** ns→µs normalization for `events.ts`: FLOOR division via pmod —
    * `div` truncates toward zero, which would land pre-epoch nanos 1 µs
    * late; double division would lose precision at 1.7e18 ns. ONE
    * definition shared by the batch loader below and the streaming
    * source (Sources.streamEvents), so the two paths cannot drift;
    * floor semantics pinned by TsNormalizationSpec.
    */
  private[graft] val nsToMicrosTs =
    "timestamp_micros((ts - pmod(ts, 1000)) div 1000)"

  /** `events.ts` arrives either as naive TIMESTAMP(MICROS) (read as a
    * plain timestamp under [[tsCompatConfs]]) or, in earlier fixture
    * generations, as TIMESTAMP(NANOS) read as a long — the LongType
    * branch normalizes that legacy shape ns→µs.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr(nsToMicrosTs))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
