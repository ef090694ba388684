package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming driven synchronously via MemoryStream + memory
  * sink (SURVEY §2.B streaming row), through the same window and dedup
  * operators the `stream_*` contract queries run, plus the
  * cross-checks between those queries and their batch or append twins,
  * and the state-store PROVIDER POLICY the sf100 measurement decided
  * (STREAM_STATE_sf100.json → SCALE.md §Streaming): unbounded-state
  * queries run on RocksDB inside their own builders, bounded-state
  * aggregations stay on heap, and the forced-provider hatch a
  * measurement run sets suppresses the policy.
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Drive the shared tumbling window (`ScalarFns.tumbling`, which
    * `event_tumbling` and both `stream_tumbling` queries run) over the
    * canonical 3-event fixture and assert the EXACT emitted row
    * sequence. Row-level on purpose: collapsing to a Map would silently
    * absorb a duplicate window emission — the exactly-once failure mode
    * a streaming test exists to catch. Shared by the heap-provider and
    * RocksDB-provider tests so both providers are held to the identical
    * fixture and assertion. Returns the query's last progress JSON so
    * callers can assert HOW the run executed (e.g. which state-store
    * provider engaged), not just what it produced.
    */
  private def assertTumblingFixture(queryName: String): String = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = operators.ScalarFns.tumbling(events).writeStream
      .outputMode("append").format("memory").queryName(queryName).start()
    try {
      input.addData(
        (ts(5), 1L, "click", 1.0), (ts(10), 2L, "click", 2.0),
        (ts(40), 1L, "view", 3.0))
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; push the
      // watermark far ahead to close the 10:00 window
      input.addData((Timestamp.valueOf("2024-01-01 14:00:00"), 9L, "late", 0.0))
      q.processAllAvailable()
      val rows = spark.table(queryName)
        .select("event_type", "n").as[(String, Long)].collect()
        .sortBy(_._1).toSeq
      assert(rows == Seq("click" -> 2L, "view" -> 1L))
      q.lastProgress.json
    } finally q.stop()
  }

  test("tumbling watermark aggregation over a memory stream") {
    assertTumblingFixture("tumble_out")
  }

  test("streaming exact dedup keeps only each key's first occurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = operators.Sources.dedupStreamExact(events, Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_exact_out").start()
    try {
      input.addData(
        (ts(1), 1L, "click", 1.0), (ts(1), 1L, "click", 1.0),
        (ts(9), 1L, "click", 1.0), // same key, later ts: still dropped
        (ts(2), 1L, "view", 1.0))
      q.processAllAvailable()
      // the kept ts values prove FIRST-occurrence semantics: keeping
      // the ts(9) click instead would also count 2
      val kept = spark.table("dedup_exact_out").select("ts", "event_type")
        .as[(Timestamp, String)].collect().sortBy(_._1.getTime).toSeq
      assert(kept == Seq(ts(1) -> "click", ts(2) -> "view"))
    } finally q.stop()
  }

  test("unbounded rate source runs under a processing-time trigger") {
    // The one streaming shape the oracle-checked replay queries never
    // exercise: a genuinely unbounded source (no AvailableNow), a
    // continuous processing-time trigger, stopped by the caller after
    // observing real micro-batches. Shape-asserted only — an unbounded
    // source has no batch oracle, so it stays out of SparkEntry.queries.
    import spark.implicits._
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .groupBy((col("value") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("rate_out")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000L
      // q.isActive in the loop condition: a query that dies on its
      // first micro-batch must fail fast, not spin the full deadline
      while (System.currentTimeMillis() < deadline && q.isActive &&
          q.recentProgress.count(_.numInputRows > 0) < 2)
        Thread.sleep(100)
      assert(q.isActive, s"rate query died: ${q.exception}")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "rate source delivered fewer than 2 non-empty micro-batches in 30s")
    } finally q.stop()
    val out = spark.table("rate_out")
    assert(out.columns.toSeq == Seq("bucket", "n"))
    val (buckets, total) = (out.select("bucket").as[Long].collect().toSet,
      out.agg(sum("n")).head().getLong(0))
    assert(total > 0 && buckets.subsetOf((0L to 9L).toSet))
  }

  test("streaming session_window aggregation runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = operators.ScalarFns.sessions(events).writeStream
      .outputMode("append").format("memory").queryName("swin_out").start()
    try {
      input.addData((ts(0), 1L, "a", 1.0), (ts(5), 1L, "a", 1.0),
        (ts(50), 1L, "a", 1.0))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 15:00:00"), 2L, "a", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("swin_out")
        .filter(col("user_id") === 1L).select("n_events")
        .as[Long].collect().sorted.toSeq
      assert(sessions == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream fixture scopes restore every session conf they touch") {
    // the replay fixtures transiently pin shuffle partitions, the
    // checkpoint base, and the no-data micro-batch flag; a broken
    // restore would silently degrade every LATER query in the session
    // (e.g. batch shuffles stuck at fan-out 2, or batch queries
    // inheriting a streaming checkpoint dir), which no per-query oracle
    // can catch — so assert the conf round-trip explicitly
    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointLocation",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val out = SparkEntry.queries("stream_tumbling")(spark, sfDir)
    assert(out.count() > 0)
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(after == before,
      s"stream fixture leaked session conf: $before -> $after")
  }

  test("append-mode session windows emit exactly the watermark-closed sessions") {
    // Pins the emission rule `stream_session_append` relies on (a
    // session flushes once, when the watermark passes last-event+gap)
    // on a hand-computed input, independent of the oracle fixtures:
    // a session behind the watermark emits, a session ahead of it is
    // withheld, and nothing ever re-emits.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = operators.ScalarFns.sessions(events).writeStream
      .outputMode("append").format("memory").queryName("sess_append_out")
      .start()
    try {
      // session_start is the window start in epoch seconds, as the
      // contract queries emit it
      def sec(t: Timestamp): Long = t.getTime / 1000
      def emitted(): Seq[(Long, Long, Long)] =
        spark.table("sess_append_out")
          .select("user_id", "session_start", "n_events")
          .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
      // user 1: events at 10:00 and 10:10 merge into one session
      // (end 10:40); a third at 13:00 opens a second session. After
      // this batch the watermark is 13:00 − 2 h = 11:00: the trailing
      // no-data batch must flush session 1 (10:40 ≤ 11:00) and must
      // NOT flush session 2 (13:30 > 11:00).
      input.addData(
        (ts(0), 1L, "click", 1.0), (ts(10), 1L, "click", 1.0),
        (Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      assert(emitted() == Seq((1L, sec(ts(0)), 2L)),
        "only the session behind the watermark may flush")
      // advance the watermark to 14:00: session 2 (ends 13:30) closes
      // and emits; the advancing event's OWN session (ends 16:30) is
      // withheld, and session 1 does not re-emit
      input.addData((Timestamp.valueOf("2024-01-01 16:00:00"), 9L, "late", 0.0))
      q.processAllAvailable()
      assert(emitted() == Seq(
        (1L, sec(ts(0)), 2L),
        (1L, sec(Timestamp.valueOf("2024-01-01 13:00:00")), 1L)),
        "the closed session emits exactly once; the open one is withheld")
    } finally q.stop()
  }

  test("stateful aggregation runs unchanged on the RocksDB state store") {
    // The default state store keeps every key's state on the executor
    // heap — the one streaming component that does NOT survive a 100 TB
    // scale-up (state O(keys) vs heap O(GB)). Spark's RocksDB provider
    // spills state to local disk with the same exactly-once contract;
    // this proves the engine's stateful queries are provider-agnostic:
    // the SAME ScalarFns.tumbling plan, only the session conf differs — at
    // cluster scale the provider is a config flip, not a rewrite.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the SAME fixture and assertion as the heap-provider test —
      // shared runner, so the provider-agnostic claim is always tested
      // against an identical workload. Assert the provider actually
      // engaged: a renamed/typo'd conf key would silently fall back to
      // the heap provider and this test would prove nothing
      val progress = assertTumblingFixture("rocksdb_out")
      assert(progress.contains("rocksdb"),
        s"state-operator metrics show no RocksDB engagement:\n$progress")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stream_dedup equals batch distinct") {
    import spark.implicits._
    val streamed = operators.Sources.queries("stream_dedup")(spark, sfDir)
      .as[(Long, String)].collect().toSet
    val batch = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(streamed == batch)
  }

  /** `stream_session` (the append+rollup shape) and its per-session twin
    * `stream_session_append` are views of the SAME finalized session set
    * — the rollup's session counts, event counts, and value sums must
    * reconcile row-for-row with the twin's per-session table. A drift
    * here means the two builders' emission cutoffs diverged, which the
    * independent DuckDB oracles would also catch but only as two
    * unrelated hash failures; this test names the relationship.
    */
  test("stream_session is the per-user rollup of exactly the sessions " +
      "its append twin emits") {
    val rollup = SparkEntry.queries("stream_session")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
      .toMap
    val sessions = SparkEntry.queries("stream_session_append")(spark, sfDir)
      .collect()
    assert(sessions.nonEmpty, "fixture must finalize at least one session")
    val byUser = sessions.groupBy(_.getLong(0))
    assert(rollup.keySet == byUser.keySet,
      "rollup user set != twin's finalized-session user set")
    byUser.foreach { case (user, rows) =>
      val (nSessions, nEvents, valueSum, first, last) = rollup(user)
      assert(nSessions == rows.length, s"user $user session count")
      assert(nEvents == rows.map(_.getLong(2)).sum, s"user $user event count")
      // the twin emits per-session value sums as double; the rollup
      // re-aggregates in decimal. Exact 6-dp equality would assume every
      // double is within 5e-7 of its decimal — false once sums exceed
      // ~3e9 (double ulp > 1e-6) — so reconcile with a per-session ulp
      // budget: each of the n sessions may contribute one rounding ulp.
      val twinSum = rows.map(r => BigDecimal(r.getDouble(3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      val ulpBudget = rows.map(r => BigDecimal(math.ulp(r.getDouble(3)))).sum +
        BigDecimal("0.000001") * rows.length
      assert((BigDecimal(valueSum) - twinSum).abs <= ulpBudget,
        s"user $user value sum: $valueSum vs $twinSum (budget $ulpBudget)")
      assert(first == rows.map(_.getLong(1)).min, s"user $user first start")
      assert(last == rows.map(_.getLong(1)).max, s"user $user last start")
    }
  }

  test("unbounded-state queries engage RocksDB inside their builders; " +
      "bounded-state aggregations stay on the heap provider") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val seen =
      new java.util.concurrent.ConcurrentHashMap[String, Set[String]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val keys = e.progress.stateOperators
          .flatMap(_.customMetrics.keySet.asScala).toSet
        val name = Option(e.progress.name).getOrElse("")
        if (name.nonEmpty && keys.nonEmpty)
          seen.merge(name, keys, _ ++ _)
      }
    }
    spark.streams.addListener(listener)
    try {
      // the policy split: dedup + session = key-space state → RocksDB;
      // tumbling + sliding-append = bounded window state → heap.
      // stream_session runs the file-sink append shape since round 13
      // but still names its stream graft_stream_session_<seq>, so the
      // same prefix attribution covers it.
      SparkEntry.queries("stream_dedup")(spark, sfDir).collect()
      SparkEntry.queries("stream_session")(spark, sfDir).collect()
      SparkEntry.queries("stream_tumbling")(spark, sfDir).collect()
      SparkEntry.queries("stream_sliding_append")(spark, sfDir).collect()
      // the listener bus is async — wait for all four to land
      def byPrefix(p: String): Option[Set[String]] =
        seen.asScala.collectFirst { case (n, k) if n.startsWith(p) => k }
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          (byPrefix("graft_stream_dedup_").isEmpty ||
           byPrefix("graft_stream_session_").isEmpty ||
           byPrefix("graft_stream_tumbling_").isEmpty ||
           byPrefix("graft_stream_sliding_append_").isEmpty))
        Thread.sleep(100)
      val dedup = byPrefix("graft_stream_dedup_")
      val session = byPrefix("graft_stream_session_")
      val tumbling = byPrefix("graft_stream_tumbling_")
      val slidingAppend = byPrefix("graft_stream_sliding_append_")
      assert(dedup.exists(_.exists(_.startsWith("rocksdb"))),
        s"stream_dedup must run on RocksDB by policy; state metrics: $dedup")
      assert(session.exists(_.exists(_.startsWith("rocksdb"))),
        s"stream_session must run on RocksDB by policy; state metrics: $session")
      assert(tumbling.exists(k =>
          k.nonEmpty && !k.exists(_.startsWith("rocksdb"))),
        s"stream_tumbling must stay on the heap provider; state " +
          s"metrics: $tumbling")
      assert(slidingAppend.exists(k =>
          k.nonEmpty && !k.exists(_.startsWith("rocksdb"))),
        s"stream_sliding_append holds bounded window state and must stay " +
          s"on the heap provider; state metrics: $slidingAppend")
      // and the policy scope is transient: the builders restore the
      // session provider, so the next query is back on the default
      assert(spark.conf
        .getOption("spark.sql.streaming.stateStore.providerClass")
        .forall(!_.contains("RocksDB")),
        "the RocksDB policy leaked into the shared session conf")
    } finally spark.streams.removeListener(listener)
  }

  test("the forced-provider hatch suppresses the policy: a heap-arm " +
      "measurement run actually measures heap for the policy queries") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val seen =
      new java.util.concurrent.ConcurrentHashMap[String, Set[String]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val keys = e.progress.stateOperators
          .flatMap(_.customMetrics.keySet.asScala).toSet
        val name = Option(e.progress.name).getOrElse("")
        if (name.nonEmpty && keys.nonEmpty) seen.merge(name, keys, _ ++ _)
      }
    }
    spark.streams.addListener(listener)
    try Tuning.withForcedStateStore(Some("heap")) { _ =>
      SparkEntry.queries("stream_dedup")(spark, sfDir).collect()
      def dedupKeys: Option[Set[String]] =
        seen.asScala.collectFirst {
          case (n, k) if n.startsWith("graft_stream_dedup_") => k
        }
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && dedupKeys.isEmpty)
        Thread.sleep(100)
      assert(dedupKeys.exists(k =>
          k.nonEmpty && !k.exists(_.startsWith("rocksdb"))),
        s"with the forced-provider hatch set, stream_dedup must run on " +
          s"the session provider (heap here); state metrics: $dedupKeys")
    } finally spark.streams.removeListener(listener)
  }

  test("the forced-provider scope restores a hatch value set before it") {
    val prop = Tuning.STATE_STORE_FORCED_PROP
    sys.props(prop) = "sentinel"
    try {
      Tuning.withForcedStateStore(Some("heap")) { confs =>
        assert(confs.isEmpty, "heap is the session default: no conf to set")
        assert(sys.props.get(prop).contains("heap"))
      }
      assert(sys.props.get(prop).contains("sentinel"),
        "the scope cleared or replaced the caller's own hatch value")
    } finally sys.props -= prop
  }

  test("the forced-provider scope leaves no hatch behind when none was set, " +
      "also when the run throws") {
    val prop = Tuning.STATE_STORE_FORCED_PROP
    assert(!sys.props.contains(prop))
    intercept[IllegalStateException] {
      Tuning.withForcedStateStore(Some("rocksdb")) { confs =>
        // the forced RocksDB arm runs the knob set the shipped queries run
        assert(confs == Tuning.RocksDbConfs)
        assert(sys.props.get(prop).contains("rocksdb"))
        throw new IllegalStateException("run failed")
      }
    }
    assert(!sys.props.contains(prop), "the scope left the hatch set")
  }
}
