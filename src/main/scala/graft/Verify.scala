package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: restrict to named queries (local iteration only;
    // the driver always passes exactly two args → full run).
    val only: Set[String] = args.drop(2).toSet
    // same guard as Bench's SPARK_GRAFT_ONLY: a typo'd name would verify
    // ZERO queries, still write oracle_sql.json, and exit 0 — and stale
    // result dirs for the real name would pass the downstream compare
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"query names not in SparkEntry.queries: ${only.diff(SparkEntry.queries.keySet).toSeq.sorted.mkString(", ")}")
    Session.run(Session.cpus)(dump(_, sfDir, outDir, only))
  }

  /** Write every selected result and oracle_sql.json; returns the
    * terminal line.
    */
  private def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String]): String = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        val t0 = System.nanoTime()
        try {
          // coalesce(1) is HARNESS-ONLY (the driver hash-compares one
          // file per query) — never a pipeline pattern; the operator
          // modules themselves write partitioned output.
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // A stale result dir from a previous run must not survive a
          // failure — the driver's compare would silently pass on it.
          graft.Fs.rmTree(new java.io.File(s"$outDir/$name"))
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    s"[verify] done: $outDir"
  }

  /** `s` as a JSON string literal, quotes included: backslash, quote and
    * every control char (< 0x20) escaped. The one escaper for the
    * driver-parsed files and lines (oracle_sql.json, Bench's line and
    * detail file): a tab or CR in an oracle's SQL, or a quote in a
    * path, would otherwise make the reader's JSON parse fail.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `v` as a JSON number with `scale` decimals. Locale.ROOT, not the f
    * interpolator: under a locale with a comma decimal separator (e.g.
    * de_DE) `f"$v%.2f"` writes `1,50`, which voids the JSON line.
    */
  private[graft] def jsonNum(v: Double, scale: Int): String =
    s"%.${scale}f".formatLocal(java.util.Locale.ROOT, v)
}
