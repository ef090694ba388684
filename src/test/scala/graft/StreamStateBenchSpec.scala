package graft

/** Pins the progress→query attribution rule of the state-store
  * measurement harness, and the state-store PROVIDER POLICY the
  * sf100 measurement decided (STREAM_STATE_sf100.json → SCALE.md
  * §Streaming): unbounded-state queries run on RocksDB inside their
  * own builders, bounded-state aggregations stay on heap.
  *
  * The attribution cases were live bugs during round 11: a null
  * progress.name (the file-sink fixture starts its stream without a
  * queryName) threw in the listener and silently dropped that query's
  * metrics, and prefix matching without longest-wins would file every
  * `graft_stream_tumbling_append_N` progress under `stream_tumbling`.
  */
class StreamStateBenchSpec extends SparkSpec {

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
  private val contract = Seq(
    "stream_dedup", "stream_join", "stream_session", "stream_sliding",
    "stream_sliding_append", "stream_tumbling", "stream_tumbling_append")

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

  test("queryName maps to its contract query") {
    assert(StreamStateBench.benchNameFor("graft_stream_dedup_3", contract)
      .contains("stream_dedup"))
  }

  test("longest prefix wins for nested names") {
    assert(StreamStateBench.benchNameFor(
        "graft_stream_tumbling_append_7", contract)
      .contains("stream_tumbling_append"))
    assert(StreamStateBench.benchNameFor(
        "graft_stream_tumbling_7", contract)
      .contains("stream_tumbling"))
    assert(StreamStateBench.benchNameFor(
        "graft_stream_sliding_append_2", contract)
      .contains("stream_sliding_append"))
  }

  test("null and foreign names attribute to nothing") {
    assert(StreamStateBench.benchNameFor(null, contract).isEmpty)
    assert(StreamStateBench.benchNameFor("someone_elses_query", contract)
      .isEmpty)
    // a bare prefix without the trailing seq separator must not match
    assert(StreamStateBench.benchNameFor("graft_stream_dedup", contract)
      .isEmpty)
  }

  test("state_rows reads null under RocksDB, which tracks no row total") {
    assert(StreamStateBench.stateRowsJson("rocksdb", 0L) == "null")
    assert(StreamStateBench.stateRowsJson(Tuning.ROCKSDB_PROVIDER, 0L) == "null")
    assert(StreamStateBench.stateRowsJson("heap", 75L) == "75")
  }

  test("StatePeak.max is a componentwise peak plus event count") {
    import StreamStateBench.StatePeak
    val a = StatePeak(10, 100, 5, 1, 1)
    val b = StatePeak(7, 200, 9, 0, 1)
    assert(a.max(b) == StatePeak(10, 200, 9, 1, 2))
  }
}
