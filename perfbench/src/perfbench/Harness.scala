package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Cleanup, SparkEntry, Tables}

/** One benchmark run in a fresh JVM: one session, one closed-loop
  * client over a workload's queries.
  *
  *  1. set-up (timed as `setup_s`): session build,
  *     `RelationalExt.ensureBucketedTables`, and untimed warm passes:
  *     one writes every query's result as parquet for the oracle check
  *     and fills the program's memo caches, `warm` more warm the JIT;
  *  2. `passes` timed passes through the `noop` sink, as
  *     `graft.Bench.once` does, each in a seeded order; with `trace=1`,
  *     instead one block of untraced, traced, traced, untraced passes,
  *     the [[Recorder]] attached for the traced ones, so the difference
  *     is the tracing overhead and a drift in pass time cancels out;
  *  3. `Cleanup.releaseAll`, then the run record as JSON.
  *
  * Every query gets the job group `pb|<pass>|<query>`; each query starts
  * only after the previous one has finished.
  *
  * Usage: Harness key=value ... (keys: queries, data, seed, warm,
  * passes, trace, out, cpus) — or `mode=scaleup in= data= factor=
  * files= cpus= out=`, which derives `data`'s documents and embeddings from `in` with
  * `graft.ScaleUp` in a JVM of its own, so no run's set-up includes it.
  */
object Harness {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds, sub-millisecond from nanoTime, on
    * the same base as the timestamps Spark puts on its events. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** (all, steal) CPU jiffies of the host so far, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
      finally src.close()
    (v.sum, v(7))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val cpus = a("cpus").toInt
    val spark = session(cpus, a("out"))
    if (a.get("mode").contains("scaleup")) {
      graft.ScaleUp.run(spark, a("in"), a("data"), a("factor").toInt,
        a("files").toInt, Some(Set("documents", "embeddings")))
      spark.stop()
    } else run(spark, a, cpus)
  }

  private def session(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, a: Map[String, String], cpus: Int): Unit = {
    val (dir, out) = (a("data"), a("out"))
    val names = a("queries").split(",").toSeq
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val nPasses = a("passes").toInt
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    /** One query, closed loop: build, then write through `sink`. */
    def once(pass: Int, name: String, sink: (String, DataFrame) => Unit,
        memo: Boolean = false): Map[String, Any] = {
      sc.setJobGroup(s"pb|$pass|$name", name, interruptOnCancel = false)
      val t0 = nowMs
      var t1 = Double.NaN
      val err = try {
        val df = all(name)(spark, dir)
        t1 = nowMs
        sink(name, df)
        None
      } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val t2 = nowMs
      sc.clearJobGroup()
      // outside the timed window, as in Bench.once: drop the stream
      // queries' memory-sink views so they do not pin results
      if (name.startsWith("stream_")) try {
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith("graft_stream_")).foreach(spark.catalog.dropTempView)
        spark.streams.resetTerminated()
      } catch { case scala.util.control.NonFatal(_) => () }
      val rec = Map[String, Any]("name" -> name, "pass" -> pass,
        "start_ms" -> t0, "construct_end_ms" -> (if (t1.isNaN) t2 else t1),
        "end_ms" -> t2, "error" -> err)
      if (!memo) rec
      else rec ++ Map("persisted_rdds" -> sc.getPersistentRDDs.size,
        "cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    val parquet: (String, DataFrame) => Unit = (name, df) => {
      val path = s"$out/results/$name"
      try df.coalesce(1).write.mode("overwrite").parquet(path)
      catch { case e: Throwable => graft.Fs.rmTree(new java.io.File(path)); throw e }
    }

    val tSetup = nowMs
    // the bucketed layout rel_bucketed_join reads is a per-session cost
    if (names.contains("rel_bucketed_join"))
      graft.operators.RelationalExt.ensureBucketedTables(spark, dir)
    // warm pass 0 writes the results the oracle check reads; warm passes
    // -1, -2, ... are the JIT warmup, over the panel's own code paths
    // (with too few, the first timed passes ran up to 1.3x the later ones)
    val warm = order(0).map(once(0, _, parquet)) ++
      (1 to a("warm").toInt).flatMap(w => order(-w).map(once(-w, _, noop)))
    val setupS = (nowMs - epoch0) / 1e3

    var pass = 1
    val passes = Seq.newBuilder[Map[String, Any]]
    def runPass(trace: Boolean): Unit = {
      val (t, j0) = (nowMs, cpuJiffies())
      val qs = order(pass).map(once(pass, _, noop, memo = trace))
      val j1 = cpuJiffies()
      passes += Map("pass" -> pass, "traced" -> trace, "start_ms" -> t,
        "end_ms" -> nowMs, "queries" -> qs,
        "steal_pct" -> 100.0 * (j1._2 - j0._2) / math.max(1L, j1._1 - j0._1))
      pass += 1
    }
    val rec = new Recorder
    /** Attach the recorder, run `body`, and detach it once the listener
      * bus has delivered everything `body` caused. */
    def recording[T](body: => T): T = {
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec.queryExecutions)
      spark.streams.addListener(rec.streams)
      try body finally {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(rec)
        spark.listenerManager.unregister(rec.queryExecutions)
        spark.streams.removeListener(rec.streams)
      }
    }
    if (traced) Seq(false, true, true, false)
      .foreach(t => if (t) recording(runPass(t)) else runPass(t))
    else (1 to nPasses).foreach(_ => runPass(false))

    val tables = if (!traced) Nil else recording {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").map { t =>
        sc.setJobGroup(s"pb|tables|$t", t, interruptOnCancel = false)
        val t0 = nowMs
        Tables.table(spark, dir, t)
        val r = Map("name" -> t, "start_ms" -> t0, "end_ms" -> nowMs)
        sc.clearJobGroup()
        r
      }
    }

    val tClean = nowMs
    Cleanup.releaseAll(spark)
    val cleanupS = (nowMs - tClean) / 1e3
    val leaked = sc.getPersistentRDDs.size

    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(Paths.get(s"$out/results"))
    json.writeValue(new java.io.File(s"$out/results/oracle_sql.json"), oracles)
    json.writeValue(new java.io.File(s"$out/run.json"), Map(
      "setup_s" -> setupS, "session_s" -> (tSetup - epoch0) / 1e3,
      "cpus" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "warm" -> warm, "passes" -> passes.result(), "tables" -> tables,
      "cleanup_s" -> cleanupS, "leaked_rdds" -> leaked,
      "trace" -> (if (traced) Some(rec.snapshot) else None)))
  }
}
