package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Heap-vs-RocksDB state-store measurement for the stream family — the
  * observation behind SCALE.md's "the provider is a config flip"
  * claim. The functional half is already proven (`StreamingSpec` runs
  * the identical tumbling fixture on both providers and asserts equal
  * results plus RocksDB engagement); what was missing is the COST half
  * at rehearsal scale: what each stateful query's state actually
  * weighs, and what the provider swap does to wall time when state
  * lives on local disk instead of the executor heap.
  *
  * Runs every `stream_*` query from the driver contract
  * (`SparkEntry.queries`) under the chosen provider, timing each
  * through the same noop sink as `Bench`, while a
  * [[StreamingQueryListener]] records the per-query PEAK of the
  * state-operator progress metrics: total state rows, state bytes
  * (heap: `memoryUsedBytes`; RocksDB: SST file bytes + pinned-block
  * memory from the provider's custom metrics — `rocksdbSstFileSize` /
  * `rocksdbPinnedBlocksMemoryUsage`, the names Spark 4.1 publishes —
  * since RocksDB keeps its state off the executor heap and on disk).
  *
  * Usage: runMain graft.StreamStateBench <sfDir> [heap|rocksdb] [cpus]
  *   [query,query,...]
  * The optional trailing filter restricts the run to named stream_*
  * queries — the decade probes target only the state-heavy ones (a
  * full sf100 sweep would spend most of its wall on queries whose
  * state the sf10 rows already bound at KB scale).
  * Prints one JSON line: per-query wall seconds + peak state metrics.
  * Matching a progress event to its bench query uses the fixture's
  * queryName discipline (`graft_<benchName>_<seq>`, longest-prefix so
  * `stream_tumbling_append` never misfiles under `stream_tumbling`).
  */
object StreamStateBench {

  private[graft] final case class StatePeak(
      rowsTotal: Long, memUsedBytes: Long, sstBytes: Long,
      rocksMemBytes: Long, progressCount: Long) {
    def max(o: StatePeak): StatePeak = StatePeak(
      rowsTotal.max(o.rowsTotal), memUsedBytes.max(o.memUsedBytes),
      sstBytes.max(o.sstBytes), rocksMemBytes.max(o.rocksMemBytes),
      progressCount + o.progressCount)
  }

  /** Longest contract-query name whose fixture prefix opens the
    * streaming queryName; None for an unmatched or ABSENT name — the
    * file-sink fixtures (e.g. stream_tumbling_append) start their
    * query without a queryName, so progress.name arrives null.
    */
  private[graft] def benchNameFor(streamName: String,
      contract: Seq[String]): Option[String] =
    Option(streamName).flatMap(sn =>
      contract.filter(n => sn.startsWith("graft_" + n + "_"))
        .sortBy(-_.length).headOption)

  /** The `state_rows` JSON value: null under RocksDB, whose
    * [[Tuning.RocksDbConfs]] set `trackTotalNumberOfRows=false` — that
    * drops `numRowsTotal`, which then reads 0 rather than a count.
    */
  private[graft] def stateRowsJson(provider: String, rowsTotal: Long): String =
    if (provider == "rocksdb" || provider == Tuning.ROCKSDB_PROVIDER) "null"
    else rowsTotal.toString

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // heap (Spark's default HDFSBackedStateStoreProvider), rocksdb, or
    // any provider FQCN. Forcing also suppresses the per-query RocksDB
    // policy (Tuning.withRocksDbStateStore): the whole point of the heap
    // arm is to record what the policy queries WOULD cost on the heap
    // provider.
    val provider = args.lift(1).getOrElse("heap")
    val cpus = args.lift(2).getOrElse(Session.cpus)
    // The replay fixtures surface results through a COMPLETE-mode
    // memory sink (built for driver-side oracle comparison); at the
    // sf100 probe the session query's 95M result rows trip the 1 GiB
    // default driver result cap BEFORE the state store is even
    // stressed. Lifting the cap is a measurement-harness decision —
    // the sink cost is identical under both providers, so the
    // provider delta this main exists to measure is unaffected.
    // Production pipelines append finalized rows to a file sink
    // (stream_tumbling_append) and never ship results driver-side.
    val uncapped = "spark.driver.maxResultSize" -> "0"
    Tuning.withForcedStateStore(Some(provider)) { confs =>
      Session.run(cpus, confs :+ uncapped: _*)(
        measure(_, sfDir, provider, cpus, args.lift(3)))
    }
  }

  /** Time every selected stream query SHOTS times under the session's
    * provider; returns the JSON line.
    */
  private def measure(spark: SparkSession, sfDir: String, provider: String,
      cpus: String, filter: Option[String]): String = {
    val all = SparkEntry.queries.keys.toSeq
      .filter(_.startsWith("stream_")).sorted
    val contract = filter match {
      case None => all
      case Some(f) =>
        val wanted = f.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = wanted.diff(all.toSet)
        require(unknown.isEmpty,
          s"unknown stream queries: ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter(wanted)
    }
    val peaks = new java.util.concurrent.ConcurrentHashMap[String, StatePeak]
    // fallback attribution for nameless streams: queries run strictly
    // sequentially and each fixture awaits termination before
    // returning, so "the bench query running right now" is unambiguous
    // up to listener-bus lag — which the per-query drain below absorbs
    @volatile var current: String = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty) benchNameFor(e.progress.name, contract)
          .orElse(Option(current))
          .foreach { bench =>
            def custom(key: String): Long =
              ops.map(o => Option(o.customMetrics.get(key))
                .map(_.longValue).getOrElse(0L)).sum
            val p = StatePeak(
              rowsTotal = ops.map(_.numRowsTotal).sum,
              memUsedBytes = ops.map(_.memoryUsedBytes).sum,
              sstBytes = custom("rocksdbSstFileSize"),
              rocksMemBytes = custom("rocksdbPinnedBlocksMemoryUsage"),
              progressCount = 1)
            peaks.merge(bench, p, (a, b) => a.max(b))
          }
      }
    }
    spark.streams.addListener(listener)

    // ≥3-shot band discipline (SCALE.md "Decade measurement protocol"):
    // single shots on shared hosts carry a 1.3-3.7x warmth/steal band —
    // round 13's session reshape measured 115.7-423.8s on identical
    // data — so every decade row reports min/p50/max of SHOTS runs of
    // the SAME query in one JVM (sinks released between shots, solo
    // process, first shot carries residual warmup and lands in the band
    // rather than being discarded). Default 3; 1 restores the legacy
    // single-shot behavior for fixture-scale smoke runs.
    val shots = sys.env.get("SPARK_GRAFT_SHOTS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    def releaseSinks(): Unit = {
      // free this query's memory-sink rows before the next measurement:
      // the replay fixtures register their sinks as graft_stream_* temp
      // views, and a retained sink pins its whole result driver-side
      // (9.5M rows for the sf10 session query) — without the drop,
      // every LATER query is measured under the accumulated heap of the
      // earlier ones' sinks. Round 12 caught exactly that: adding
      // stream_anomaly (runs first alphabetically) inflated every
      // subsequent wall 3-20x at sf10 until the sinks were released.
      spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_stream_"))
        .foreach(spark.catalog.dropTempView)
      spark.streams.resetTerminated()
    }
    val walls: Seq[(String, Seq[Double])] = contract.map { name =>
      val samples = (1 to shots).map { shot =>
        current = name
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        // progress events post asynchronously on the listener bus; the
        // stream has terminated, so a short drain both completes this
        // query's peaks and keeps the `current` fallback unambiguous
        Thread.sleep(1000)
        current = null
        releaseSinks()
        System.err.println(f"[statebench] $name shot $shot/$shots $w%.2fs")
        w
      }
      name -> samples
    }
    spark.streams.removeListener(listener)

    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def p50(vs: Seq[Double]): Double = {
      val s = vs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val qs = walls.map { case (name, vs) =>
      val p = Option(peaks.get(name))
        .getOrElse(StatePeak(0, 0, 0, 0, 0))
      // wall_sec stays the headline field (now the band p50) so prior
      // artifacts' readers keep working; the full band rides alongside
      s""""$name":{"wall_sec":${r3(p50(vs))},"wall_min":${r3(vs.min)}""" +
        s""","wall_max":${r3(vs.max)},"shots":${vs.size}""" +
        s""","samples":${vs.map(r3).mkString("[", ",", "]")}""" +
        s""","state_rows":${stateRowsJson(provider, p.rowsTotal)}""" +
        s""","state_mem_bytes":${p.memUsedBytes}""" +
        s""","rocksdb_sst_bytes":${p.sstBytes}""" +
        s""","rocksdb_mem_bytes":${p.rocksMemBytes}""" +
        s""","progress_events":${p.progressCount}}"""
    }.mkString("{", ",", "}")
    val heapGb = Runtime.getRuntime.maxMemory / 1024.0 / 1024 / 1024
    s"""{"bench":"stream_state","provider":"$provider"""" +
      s""","total_sec":${r3(walls.map(w => p50(w._2)).sum)},"queries":$qs""" +
      s""","cpus":$cpus,"heap_gb":${r3(heapGb)},"sf":"$sfDir"}"""
  }
}
