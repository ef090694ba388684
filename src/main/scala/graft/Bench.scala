package graft
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.Listeners
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import operators.Sources
object Bench {
  /** Best-effort detail-file write under `dir`; returns the JSON value
    * for the compact line's `detail` field — a quoted path on success,
    * the literal `null` on failure. An unwritable cwd must not kill the
    * run AFTER all measurements succeeded, and on failure the terminal
    * line must carry null rather than a path that would resolve to a
    * STALE previous run's file and pass for this run's numbers.
    */
  private[graft] def writeDetailRef(dir: java.io.File, detail: String): String =
    try {
      dir.mkdirs()
      val p = new java.io.File(dir, "bench_detail.json").toPath
      java.nio.file.Files.writeString(p, detail)
      "\"" + p.toString + "\""
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] detail file write failed: ${e.getMessage}")
      "null"
    }

  /** Host/environment facts the timing analysis needs, as a JSON object
    * string — schema-additive on the bench line. Exists because rounds
    * 4–5 could only attribute driver-vs-local gaps (1.5×) and two
    * stream outliers by inference: the artifact now records the
    * resolved stream checkpoint root (tmpfs vs disk-tmpdir fallback),
    * whether /dev/shm was writable, the 1-minute load average at sweep
    * start/end (-1.0 where the JVM can't see one), the CPU-steal share
    * of the sweep window (see [[cpuJiffies]]; -1 off-Linux), the worker
    * thread count vs the host's real CPU count, the heap ceiling, and
    * the forced state-store provider (null when none is forced).
    */
  private[graft] def envJson(cpus: String, loadStart: Double,
      loadEnd: Double, steal: Double = -1.0,
      provider: Option[String] = None): String = {
    def num(v: Double): String =
      if (v.isNaN || v < 0) "-1"
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // a non-numeric SPARK_GRAFT_CPUS degrades to -1 instead of splicing
    // raw text into a JSON number slot; strings go through the escaper
    val cpusJson = cpus.trim.toIntOption.getOrElse(-1)
    val shm = new java.io.File("/dev/shm")
    val heapGb = Runtime.getRuntime.maxMemory / 1024.0 / 1024 / 1024
    s"""{"ckpt_root":${Verify.jsonString(Fs.streamScratchRoot)}""" +
      s""","shm_writable":${shm.isDirectory && shm.canWrite}""" +
      s""","load_start":${num(loadStart)},"load_end":${num(loadEnd)}""" +
      s""","steal_pct":${num(steal)}""" +
      s""","cpus":$cpusJson,"host_cpus":${Runtime.getRuntime.availableProcessors}""" +
      s""","heap_gb":${num(heapGb)}""" +
      s""","state_provider":${provider.fold("null")(Verify.jsonString)}}"""
  }

  /** One stream query's peak state over its progress events: total
    * state rows, state bytes (heap: `memoryUsedBytes`; RocksDB, which
    * keeps its state off the heap: SST file bytes and pinned-block
    * memory, the custom metrics `rocksdbSstFileSize` and
    * `rocksdbPinnedBlocksMemoryUsage`), the number of events, and the
    * custom metric keys seen.
    */
  private[graft] final case class StatePeak(
      rowsTotal: Long, memUsedBytes: Long, sstBytes: Long,
      rocksMemBytes: Long, progressCount: Long,
      metricKeys: Set[String] = Set.empty) {
    def max(o: StatePeak): StatePeak = StatePeak(
      rowsTotal.max(o.rowsTotal), memUsedBytes.max(o.memUsedBytes),
      sstBytes.max(o.sstBytes), rocksMemBytes.max(o.rocksMemBytes),
      progressCount + o.progressCount, metricKeys ++ o.metricKeys)
  }

  /** The `state_rows` JSON value: null when the operators' custom
    * metrics show RocksDB, whose [[Tuning.RocksDbConfs]] set
    * `trackTotalNumberOfRows=false` — that drops `numRowsTotal`, which
    * then reads 0 rather than a count.
    */
  private[graft] def stateRowsJson(metricKeys: Set[String],
      rowsTotal: Long): String =
    if (metricKeys.exists(_.startsWith("rocksdb"))) "null"
    else rowsTotal.toString

  /** Keeps each contract stream query's [[StatePeak]], attributed by the
    * stream's name alone ([[Sources.streamQueryOf]]); progress without a
    * state operator is skipped.
    */
  private[graft] final class StatePeaks extends StreamingQueryListener {
    val peaks = new ConcurrentHashMap[String, StatePeak]
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val ops = e.progress.stateOperators
      if (ops.nonEmpty) Sources.streamQueryOf(e.progress.name).foreach { q =>
        def custom(key: String): Long =
          ops.map(o => Option(o.customMetrics.get(key))
            .map(_.longValue).getOrElse(0L)).sum
        peaks.merge(q, StatePeak(
          rowsTotal = ops.map(_.numRowsTotal).sum,
          memUsedBytes = ops.map(_.memoryUsedBytes).sum,
          sstBytes = custom("rocksdbSstFileSize"),
          rocksMemBytes = custom("rocksdbPinnedBlocksMemoryUsage"),
          progressCount = 1,
          metricKeys = ops.flatMap(_.customMetrics.keySet.asScala).toSet),
          (a, b) => a.max(b))
      }
    }

    /** The detail file's `state` object: one entry per query, by name. */
    def json: String = peaks.asScala.toSeq.sortBy(_._1).map { case (q, p) =>
      s""""$q":{"state_rows":${stateRowsJson(p.metricKeys, p.rowsTotal)}""" +
        s""","state_mem_bytes":${p.memUsedBytes}""" +
        s""","rocksdb_sst_bytes":${p.sstBytes}""" +
        s""","rocksdb_mem_bytes":${p.rocksMemBytes}""" +
        s""","progress_events":${p.progressCount}}"""
    }.mkString("{", ",", "}")
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** (totalJiffies, stealJiffies) from the aggregate /proc/stat cpu
    * line; None off-Linux or on a restricted procfs. Steal is the one
    * confounder the load average cannot see — a hypervisor neighbor
    * taking cycles shows an idle runqueue while every timed query runs
    * slow — and it bit rounds 2–6 as unattributable 1.3–1.7× bands.
    * Two snapshots (sweep start, sweep end) yield the steal share of
    * the run window itself.
    */
  private def cpuJiffies: Option[(Long, Long)] = try {
    parseCpuLine(java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** (total, steal) from an aggregate `cpu ...` /proc/stat line. The
    * total sums only user..steal (first 8 fields): the kernel already
    * folds guest/guest_nice into user/nice, so including them would
    * double-count guest time and deflate steal_pct on exactly the VM
    * hosts the metric exists to expose.
    */
  private[graft] def parseCpuLine(line: String): Option[(Long, Long)] = {
    val parts = line.trim.split("\\s+")
    if (!parts.headOption.contains("cpu")) None
    else {
      val vals = parts.drop(1).flatMap(_.toLongOption)
      if (vals.length >= 8) Some((vals.take(8).sum, vals(7))) else None
    }
  }

  /** Steal share (percent) of the interval between two cpuJiffies
    * snapshots; -1 when either side is unavailable or no time passed.
    */
  private[graft] def stealPct(start: Option[(Long, Long)],
      end: Option[(Long, Long)]): Double = (start, end) match {
    case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
      100.0 * (s1 - s0) / (t1 - t0)
    case _ => -1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // Measurement knob for the stream sweeps: force the stateful-stream
    // state store (heap is the Spark default) so heap-vs-RocksDB wall
    // time and state weight can be compared with everything else
    // identical. Forcing also suppresses the per-query RocksDB policy
    // (Tuning.withRocksDbStateStore): a heap arm records what the policy
    // queries WOULD cost on the heap. Contract runs never set it;
    // StreamingSpec proves both providers produce identical results.
    val provider = sys.env.get("SPARK_GRAFT_STATE_PROVIDER").filter(_.nonEmpty)
    // The forced arm also lifts the 1 GiB driver result cap: at sf100
    // the complete-mode memory sinks ship tens of millions of rows to
    // the driver before the state store is even stressed. The sink cost
    // is the same under both providers, so the provider delta is
    // unaffected; contract runs keep Spark's default.
    val uncapped = provider.map(_ => "spark.driver.maxResultSize" -> "0")
    Tuning.withForcedStateStore(provider) { confs =>
      Session.run(cpus, confs ++ uncapped: _*)(sweep(_, sfDir, cpus, provider))
    }
  }

  /** Warm up, time every query while recording each stream query's peak
    * state, write the detail file; returns the terminal JSON line.
    */
  private def sweep(spark: SparkSession, sfDir: String, cpus: String,
      provider: Option[String]): String = {
    import org.apache.spark.sql.functions._
    // Shared-host CPU steal produces 10-40x outliers on single shots AND
    // sustained multi-second steal windows (round 10's total read 84.1s
    // vs round 9's 66.8s purely from steal — and a single-shot harness
    // could not PROVE that from its own artifact). So: SWEEPS full
    // passes over every query (default 3), back-to-back sweeps minutes
    // apart so no single steal window covers a query's every sample, and
    // the headline total is the sum of per-query MEDIANS — one inflated
    // sample per query cannot move it. The per-query min is kept
    // alongside (floor of the achievable time, and the statistic every
    // pre-round-11 BENCH carried, for cross-round comparability).
    // Env-overridable sweep count for REHEARSAL-scale runs (sf1/sf10
    // local sweeps are multi-hundred-second; 1 sweep keeps them
    // feasible). The driver never sets it → 3-sweep contract behavior.
    val SWEEPS = sys.env.get("SPARK_GRAFT_SWEEPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // Optional comma-separated filter for LOCAL timing-pinning runs
    // (re-measuring one suspect query minutes after a full sweep, per
    // the round-4 discipline) and for the stream state-store runs. The
    // driver never sets it → full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would otherwise yield an EMPTY run that still prints
    // a well-formed zero-total success line — the opposite of what a
    // timing-pinning re-measurement wants
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // JIT/codegen warmup: touch the vectorized parquet reader, hash
    // aggregation, window exec, regex/md5 and higher-order-function
    // codepaths once so the first timed query doesn't pay compiler
    // warmup (round 1's first queries showed 3-5s of it).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(2000)
    docs.select(md5(col("text")).as("h"),
        expr("size(filter(split(text, '[^a-z]+'), x -> x <> ''))").as("n"))
      .groupBy("h").agg(sum("n")).count()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(50000)
    li.groupBy("l_returnflag").agg(sum("l_quantity"), countDistinct("l_partkey")).count()
    li.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_orderkey"))).count()
    // Timed runs: materialize through the noop sink — count() would let
    // Catalyst prune sorts and unreferenced columns, under-measuring.
    // A crashed query must NOT enter the JSON as its (tiny) elapsed time
    // of the crash — that made failures look like speedups. NaN marks it;
    // the final line carries a failed count.
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val w = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        Double.NaN
      }
      // release the stream sinks OUTSIDE the timed window AND outside
      // the timed try (Sources.releaseStreams has why). Own guard so a
      // cleanup failure can never discard an already-measured sample.
      if (name.startsWith("stream_")) try Sources.releaseStreams(spark)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name sink release failed (ignored): ${e.getMessage}")
      }
      w
    }
    // One-time session layout cost, NOT query cost: the bucketed tables
    // rel_bucketed_join reads are written once per (session, sfDir) —
    // paying it here keeps the timed body a pure shuffle-free join, the
    // thing the query actually demonstrates. A filtered run instead
    // warms its own queries once, untimed (which writes those tables
    // when rel_bucketed_join is among them): the synthetic jobs above
    // leave the JIT cold on them, and a query re-measured alone
    // otherwise read falling samples sweep after sweep, well above its
    // in-sweep value. A full run's earlier queries warm its later ones.
    if (only.isEmpty)
      graft.operators.RelationalExt.ensureBucketedTables(spark, sfDir)
    else names.foreach { case (name, fn) => once(name, fn) }
    val state = new StatePeaks
    spark.streams.addListener(state)
    val loadStart = loadAvg
    val jiffies0 = cpuJiffies
    System.err.println(f"[bench] load_start $loadStart%.2f sweeps $SWEEPS")
    val samples = scala.collection.mutable
      .LinkedHashMap[String, Vector[Double]]()
    names.foreach { case (name, _) => samples(name) = Vector.empty }
    for (sweep <- 0 until SWEEPS) {
      names.foreach { case (name, fn) =>
        val v = once(name, fn)
        samples(name) = samples(name) :+ v
        System.err.println(f"[bench] sweep$sweep $name $v%.2fs")
      }
    }
    // progress events reach the listener asynchronously, on the bus
    Listeners.drain(spark.sparkContext)
    spark.streams.removeListener(state)
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val env = envJson(cpus, loadStart, loadAvg,
      stealPct(jiffies0, cpuJiffies), provider)
    // p50 over the query's non-failed samples: middle of the sorted odd
    // run, mean of the two middles when even. A query is FAILED only if
    // every sweep failed; partial failures median over the survivors.
    def p50(vs: Vector[Double]): Double = {
      val s = vs.filterNot(_.isNaN).sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val med = samples.map { case (k, vs) => k -> p50(vs) }
    val mins = samples.map { case (k, vs) =>
      k -> vs.filterNot(_.isNaN).minOption.getOrElse(Double.NaN) }
    val ok = med.filterNot(_._2.isNaN)
    val failedNames = med.collect { case (k, v) if v.isNaN => k }.toSeq
    val total = ok.values.sum
    val minTotal = mins.values.filterNot(_.isNaN).sum
    // Full per-query maps go to a FILE — rounds 2 and 3 both lost their
    // bench signal because the one-line stdout JSON (~2.3 KB at 100
    // queries) overflowed the driver's ~3 KB output-tail window and the
    // clipped line parsed as null. stdout keeps only a tiny summary.
    // "queries" stays the headline per-query stat (now the median);
    // "queries_min" and the raw "samples" let a reader separate a real
    // regression (median moved) from steal (one sample moved).
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val qmin = mins.filterNot(_._2.isNaN)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val raw = samples.map { case (k, vs) =>
      "\"" + k + "\":" + vs.map(v => if (v.isNaN) "null" else r3(v))
        .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sf = Verify.jsonString(sfDir)
    val detail =
      s"""{"metric":"total","value":${r3(total)},"stat":"p50_of_$SWEEPS","min_total":${r3(minTotal)},"unit":"sec","n_queries":${med.size},"failed":${failedNames.size},"failed_names":$failedJson,"queries":$qs,"queries_min":$qmin,"samples":$raw,"state":${state.json},"env":$env,"sf":$sf}"""
    val detailRef = writeDetailRef(new java.io.File("target"), detail)
    val slowest = ok.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // ONE compact line, well under the driver's output-tail window.
    s"""{"metric":"total","value":${r3(total)},"stat":"p50_of_$SWEEPS","min_total":${r3(minTotal)},"unit":"sec","n_queries":${med.size},"failed":${failedNames.size},"slowest":$slowest,"env":$env,"detail":$detailRef,"sf":$sf}"""
  }
}
