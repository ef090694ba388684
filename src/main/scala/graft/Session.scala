package graft

import org.apache.spark.sql.SparkSession

/** The one engine session factory: every main and the test suite build
  * their SparkSession here, so no entry point runs a session the others
  * don't. Each setting and why it is there:
  *
  *  - `local[cpus]` with `shuffle.partitions = cpus`: one shuffle
  *    partition per worker thread at fixture scale.
  *  - [[org.apache.spark.sql.graft.GraftExtensions]]: the engine's SQL
  *    functions, the small-terminal-sort AQE rule and the codegen-cache
  *    size. Installed through the builder, the only route that reaches
  *    the cache default (see its scaladoc).
  *  - [[Tables.TsCompat]], the timestamp-encoding confs: nanosecond
  *    parquet timestamps read as longs, naive timestamps as UTC instants
  *    rather than TIMESTAMP_NTZ — what the DuckDB oracles compute (each
  *    conf's reason on [[Tables.tsCompatConfs]], which re-pins them at
  *    every table read for sessions built elsewhere).
  *  - ICU case mappings off: JVM case mappings are identical to ICU's
  *    for this ASCII corpus, and to DuckDB's, and skip a multi-minute
  *    one-time ICU table build that the first `lower()`/`upper()`
  *    otherwise triggers in each JVM.
  *  - warehouse dir `Fs.scratch("warehouse")`: the bucketed tables
  *    (`RelationalExt.ensureBucketedTables`) are written into this
  *    process's scratch, released with it, instead of into a
  *    `./spark-warehouse` in whatever directory the run started from.
  *  - UI off, log level WARN.
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else 4. Read here only. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The engine session on `local[cpus]`, plus `extra` confs. */
  def local(cpus: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.warehouse.dir", Fs.scratch("warehouse"))
      .config("spark.ui.enabled", "false")
    (Tables.TsCompat ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One run of a main: build the session, run `body`, then — also when
    * `body` throws — drop to log level ERROR and release everything
    * ([[Cleanup.releaseAll]], best-effort: every result is in hand by
    * then, and JVM exit plus the scratch shutdown hook reclaim what a
    * failed step leaves). Only then print `body`'s terminal line, so it
    * is the last thing on the combined output: the release (the
    * checkpoint-block unpersist logs a WARN) and the stop both log, and
    * whatever parses the run reads its final line (build.sbt strips
    * sbt's `[info]` prefix and `[success]` trailer). A throwing `body`
    * prints nothing.
    */
  def run(cpus: String, extra: (String, String)*)(
      body: SparkSession => String): Unit = {
    val spark = local(cpus, extra: _*)
    val line = try body(spark) finally {
      spark.sparkContext.setLogLevel("ERROR")
      try Cleanup.releaseAll(spark)
      catch { case e: Throwable =>
        System.err.println(s"[graft] cleanup failed (ignored): ${e.getMessage}")
      }
    }
    println(line)
    System.out.flush()
  }
}
