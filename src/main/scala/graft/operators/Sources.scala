package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Source/sink surface (SURVEY §2.B "Scans/sources" + "Sinks"): CSV,
  * JSON, and line-text round-trips, plus a REAL Structured Streaming
  * query (file source → watermark → windowed agg → sink) whose result is
  * oracle-checked against the batch semantics.
  *
  * Each round-trip writes a Spark sink to this process's disk scratch
  * ([[graft.Fs.scratch]]) and reads it back through the corresponding
  * source with an explicit schema, then aggregates; the oracle runs the
  * same aggregate on the original parquet — so a pass proves the
  * sink+source pair is lossless for the exercised types (decimals are
  * used where CSV/JSON would otherwise round doubles).
  *
  * Reference grounding: the reference's only I/O is whole text files in,
  * line-text shuffle/sink files out (`src/worker.cc:128-133,179,231-243`);
  * the text round-trip is that path, the others are its typed superset.
  */
object Sources extends QueryModule {

  import Tables._

  /** Round-trip sink dir, unique per (process, dataset): two JVMs
    * sharing a tmpdir — or one JVM round-tripping two datasets — must
    * not overwrite each other's sink while a lazily-evaluated read-back
    * still references the files.
    */
  private def scratch(name: String, d: String): String =
    graft.Fs.scratch(s"${name}_${graft.Fs.pathTag(d)}")

  // ---- CSV round-trip -------------------------------------------------

  private def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch("csv_supplier", d)
    supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal").cast("decimal(12,2)").as("bal"))
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, bal DECIMAL(12,2)")
      .option("header", "true").csv(out)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(col("bal")).cast("double").as("total_bal"),
        max(length(col("s_name"))).cast("long").as("max_name_len"))
      .orderBy("s_nationkey")
  }

  private val csvOracle =
    """SELECT s_nationkey, count(*) AS n_supp,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
      |  max(length(s_name))::BIGINT AS max_name_len
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---- JSON round-trip ------------------------------------------------

  private def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch("json_events", d)
    events(s, d)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"),
        col("value").cast("decimal(18,6)").as("v"))
      .write.mode("overwrite").json(out)
    s.read
      .schema("event_id BIGINT, event_type STRING, k_val INT, v DECIMAL(18,6)")
      .json(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k_val").as("k_sum"),
        sum("v").cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  private val jsonOracle =
    """SELECT event_type, count(*) AS n,
      |  sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS k_sum,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- line-text round-trip (the reference's native format) -----------

  /** documents.text → text sink → text source → word count. Newlines
    * inside a document would split rows on read-back, but the word
    * count is line-agnostic (newline is a non-alpha delimiter), so the
    * counts — and the oracle on the original table — are unchanged.
    */
  private def textRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch("text_documents", d)
    documents(s, d).select(col("text")).write.mode("overwrite").text(out)
    s.read.text(out)
      .select(explode(split(col("value"), "[^A-Za-z]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")
  }

  private val textOracle =
    """SELECT word, count(*) AS cnt FROM (
      |  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
      |  FROM documents)
      |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin

  // ---- partitioned parquet sink → pruned read -------------------------

  /** documents written `partitionBy(lang)`, read back with a partition
    * filter — the layout that makes 100 TB scans cheap: the `lang='en'`
    * predicate prunes directories (PartitionFilters in the plan), so
    * non-matching partitions are never opened.
    */
  private def partitionedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch("parquet_documents_bylang", d)
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("source")
  }

  private val partitionedOracle =
    """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      |FROM documents WHERE lang = 'en'
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- ORC round-trip -------------------------------------------------

  /** orders → ORC sink → ORC source → per-status aggregate. ORC is the
    * other columnar format a lake ingests besides parquet; the read-back
    * proves types (decimal, date) survive the format boundary.
    */
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = scratch("orc_orders", d)
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_orderdate").cast("date").as("odate"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total_price"),
        min(col("odate")).as("first_date"), max(col("odate")).as("last_date"),
        countDistinct(col("o_orderpriority")).as("n_prio"))
      .orderBy("o_orderstatus")
  }

  private val orcOracle =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  min(CAST(o_orderdate AS DATE)) AS first_date,
      |  max(CAST(o_orderdate AS DATE)) AS last_date,
      |  count(DISTINCT o_orderpriority) AS n_prio
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- malformed-record handling (PERMISSIVE JSON ingest) -------------

  /** Corrupt-record accounting — the ingest reality at 100 TB: a crawl
    * batch always carries malformed lines, and dropping them silently
    * (DROPMALFORMED) or failing the job (FAILFAST) are both wrong for a
    * production pipeline; PERMISSIVE parses what it can and routes the
    * raw malformed line to a quarantine column for reprocessing.
    *
    * The fixture plants the corruption deterministically (every
    * `doc_id % 37 == 0` JSON line loses its last two characters, so it
    * can never parse), writes the lines as a text file, and reads them
    * back as JSON with `columnNameOfCorruptRecord` — good rows keep
    * their fields, bad rows surface with all fields null and the raw
    * line in `_corrupt`. The aggregation buckets per language plus a
    * `_corrupt` quarantine bucket; the oracle predicts every row from
    * the planting rule alone, so the parse behavior itself is what's
    * being checked. Scale shape: row-local parse, one hash aggregation.
    */
  private def badRecords(s: SparkSession, d: String): DataFrame = {
    val out = scratch("json_badrecords", d)
    documents(s, d)
      .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("j"),
        col("doc_id"))
      .select(when(col("doc_id") % 37 === 0,
          expr("substring(j, 1, length(j) - 2)")).otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(out)
      .groupBy(when(col("_corrupt").isNotNull, lit("_corrupt"))
        .otherwise(col("lang")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum("n_chars"), lit(0L)).as("chars"),
        count(col("_corrupt")).as("n_bad"))
      .orderBy("bucket")
  }

  private val badRecordsOracle =
    """SELECT lang AS bucket, count(*) AS n,
      |  coalesce(sum(n_chars), 0)::BIGINT AS chars, 0::BIGINT AS n_bad
      |FROM documents WHERE doc_id % 37 <> 0 GROUP BY lang
      |UNION ALL
      |SELECT '_corrupt' AS bucket, count(*) AS n, 0::BIGINT AS chars,
      |  count(*) AS n_bad
      |FROM documents WHERE doc_id % 37 = 0 HAVING count(*) > 0
      |ORDER BY bucket""".stripMargin

  // ---- Structured Streaming: file source → windowed agg → sink --------
  //
  // Every stream query reads its table through Tables.streamTable and
  // runs its shape through the batch twin's own definition (the event
  // windows and anomalyScore in ScalarFns, dedupStreamExact below),
  // then through one of two sink runners: `memorySink` or the parquet
  // `appendSink`.

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stateful streaming ops instantiate one state store per shuffle
    * partition per stateful operator; for the tiny replayed fixture the
    * store setup dominates, so the stream queries run with a reduced
    * partition count in [[withStreamFanout]] (each
    * fresh run starts a fresh checkpoint, so the pinned count is
    * per-query). Fan-out 2 (r4 ran 4): results are partition-count
    * invariant — the oracles prove it — and halving the store count
    * halves the per-query fixture floor; a production deployment sizes
    * this to the stream's real key cardinality, not the fixture's.
    */
  private val STREAM_FANOUT = 2

  /** Shared fixture scope for the replayed streams: reduced fan-out and
    * the checkpoint base `Fs.streamScratch("ckpt")` (each query's unique
    * `queryName` becomes its subdir under the base), restoring both
    * confs after.
    *
    * The trailing no-data micro-batch stays ON by default — it is what
    * lets watermark-finalized results (append-mode windows, merged
    * sessions, outer-join null pads) actually emit, so skipping it for
    * a query that needs it silently TRUNCATES output with no error.
    * `skipNoDataBatch = true` is a per-query opt-out, valid only with
    * an argument for why every row is emitted in the data batch itself
    * (complete-mode aggs, pass-through dedup, the INNER interval join);
    * for those the extra batch only evicts state the bounded replay is
    * about to discard, so skipping it is pure fixture-floor savings.
    */
  private def withStreamFanout[T](s: SparkSession,
      skipNoDataBatch: Boolean = false,
      unboundedState: Boolean = false)(f: => T): T =
    graft.Tuning.withConfs(s,
        "spark.sql.shuffle.partitions" -> STREAM_FANOUT.toString,
        "spark.sql.streaming.checkpointLocation" -> graft.Fs.streamScratch("ckpt")) {
      // unboundedState = the query's state grows with the key space
      // (sessions per user, dedup keys, join buffers) → RocksDB by
      // POLICY (Tuning.withRocksDbStateStore has the measured
      // decision); bounded-state aggregations stay on the heap provider
      def inner: T =
        if (skipNoDataBatch) graft.Tuning.withoutNoDataMicroBatch(s)(f) else f
      if (unboundedState) graft.Tuning.withRocksDbStateStore(s)(inner)
      else inner
    }

  /** The name every replay of contract query `query` runs under:
    * `graft_<query>_<seq>`, the sequence number per JVM. A memory sink
    * registers its result as a temp view of that name.
    */
  private def streamName(query: String): String =
    s"graft_${query}_${streamSeq.incrementAndGet()}"

  /** The inverse of [[streamName]]: the longest contract stream query
    * whose `graft_<query>_` prefix opens `name`, so
    * `graft_stream_tumbling_append_7` is `stream_tumbling_append`, not
    * `stream_tumbling`. None for a null or foreign name.
    */
  def streamQueryOf(name: String): Option[String] =
    Option(name).flatMap(n => queries.keys
      .filter(q => q.startsWith("stream_") && n.startsWith(s"graft_${q}_"))
      .maxByOption(_.length))

  /** Drop the memory-sink views the replays left in `s` and forget its
    * terminated streams. A retained sink pins its whole result
    * driver-side (9.5M rows for the sf10 session query), so a harness
    * that runs stream queries back to back measures every later query
    * under the heap of the earlier ones' sinks unless it releases them
    * in between: adding `stream_anomaly`, which sorts first, once
    * inflated every later stream wall 3-20x at sf10.
    */
  def releaseStreams(s: SparkSession): Unit = {
    s.sqlContext.tableNames().filter(streamQueryOf(_).nonEmpty)
      .foreach(s.catalog.dropTempView)
    s.streams.resetTerminated()
  }

  /** Memory-sink runner: `df` replayed once (Trigger.AvailableNow) into
    * an in-memory sink in output `mode`, awaited, and returned as the
    * sink's table, named by [[streamName]] after `query`.
    * Complete+memory is the test harness shape: results must fit the
    * driver (true for every caller's fixture, O(groups) or O(kept
    * rows)); a production sink is the parquet [[appendSink]] or Kafka in
    * append mode past the watermark.
    */
  private def memorySink(s: SparkSession, query: String, mode: String)(
      df: DataFrame): DataFrame = {
    val name = streamName(query)
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name)
  }

  /** Parquet append runner: `df` replayed once, as a stream named by
    * [[streamName]] after `query`, into a parquet FILE sink at
    * `base/out`, checkpoint at `base/ckpt`, and read back with the
    * explicit `schema`. Explicit because a replay where nothing crosses
    * the final watermark commits ZERO files (just _spark_metadata), and
    * a schema-inferring read would throw instead of returning the empty
    * frame the oracle computes for that input. Only watermark-finalized
    * rows reach an append sink, so its callers keep the trailing no-data
    * micro-batch (the default of [[withStreamFanout]]).
    */
  private def appendSink(s: SparkSession, base: String, query: String,
      schema: String)(df: DataFrame): DataFrame = {
    df.writeStream.outputMode("append").format("parquet")
      .queryName(streamName(query))
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.read.schema(schema).parquet(s"$base/out")
  }

  /** A fresh [[appendSink]] base, unique per (process, dataset, run)
    * like scratch(): a bare restarting counter would let two JVMs
    * sharing a root overwrite each other's live checkpoint or output
    * mid-run, and a reused name would resume a previous run's
    * checkpoint or re-read its output files.
    */
  private def appendBase(d: String): String =
    graft.Fs.streamScratch(
      s"append_${graft.Fs.pathTag(d)}_${streamSeq.incrementAndGet()}")

  /** The events table replayed through a streaming file source with a
    * watermark and 1-hour tumbling windows — `event_tumbling`'s own
    * [[ScalarFns.tumbling]] over the stream, checked against the same
    * batch oracle, in complete mode into a [[memorySink]].
    */
  private def streamTumbling(s: SparkSession, d: String): DataFrame =
    // complete mode re-emits full state every data batch — nothing
    // waits on the watermark, so the trailing batch is pure overhead
    withStreamFanout(s, skipNoDataBatch = true) {
      memorySink(s, "stream_tumbling", "complete")(
        ScalarFns.tumbling(streamTable(s, d, "events")))
        .orderBy("bucket", "event_type")
    }

  /** Sliding windows over the replayed stream (1 hour every 30 min) —
    * each event lands in two overlapping window states.
    */
  private def streamSliding(s: SparkSession, d: String): DataFrame =
    // complete mode: full state emits in the data batch (as tumbling)
    withStreamFanout(s, skipNoDataBatch = true) {
      memorySink(s, "stream_sliding", "complete")(
        ScalarFns.sliding(streamTable(s, d, "events")))
        .orderBy("bucket")
    }

  /** Streaming exact dedup on `keyCols`: each key's first occurrence
    * passes and every later one drops (state note at [[streamDedup]]).
    */
  private[graft] def dedupStreamExact(events: DataFrame,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates(keyCols)

  /** Streaming exact dedup ([[dedupStreamExact]]): first
    * occurrence per (user_id, event_type) passes through, later ones are
    * dropped against the state store. Emitting only the key columns
    * makes the result the distinct key set — invariant to
    * batch/partition arrival order, so the batch DISTINCT oracle matches
    * exactly.
    *
    * State note: global first-occurrence semantics keeps one state entry
    * per distinct key FOREVER by definition — the watermark bounds
    * lateness, but Spark only evicts dedup state when the event-time
    * column is part of the key set, which global distinct excludes. On
    * an unbounded key space (billions of users) that is O(keys) state by
    * contract, not by accident; the bounded-state discipline is Spark's
    * `dropDuplicatesWithinWatermark`, and it is what a production
    * pipeline with an unbounded key domain should run.
    */
  private def streamDedup(s: SparkSession, d: String): DataFrame =
    // first occurrences pass through IN the data batch; the trailing
    // batch would only evict state the bounded replay discards anyway.
    // State is O(distinct keys) BY CONTRACT → RocksDB by policy
    withStreamFanout(s, skipNoDataBatch = true, unboundedState = true) {
      memorySink(s, "stream_dedup", "append")(
        dedupStreamExact(streamTable(s, d, "events"),
          Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type")))
        .orderBy("user_id", "event_type")
    }

  private val streamDedupOracle =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming session windows per user (30-minute gap) over the
    * replayed events, rolled up to a PER-USER session profile — the
    * streaming form of `event_session`'s session detection (the same
    * [[ScalarFns.sessions]]), surfaced through the scale-safe shape at
    * every step. Through round 12 this query ran the complete+memory
    * harness (full session table re-emitted into a driver-side memory
    * sink each batch); at sf10 its wall was jstack-attributed to the
    * single-threaded driver read-back of the 9.5M-row sink, not to
    * anything the query computes (STREAM_STATE_sf10_r12.json) — a
    * harness bottleneck wearing a contract query's name. Now the
    * sessions are watermark-FINALIZED and appended to a parquet file
    * sink (the production emission discipline, identical to the
    * `stream_session_append` twin), read back DISTRIBUTED, and rolled
    * up per user — so the result is O(users), every stage is
    * executor-side, and the oracle comparison still certifies the
    * session-window semantics end to end: the per-session counts,
    * sums, and watermark cutoff all feed the rollup, so a divergence
    * in any of them still breaks the hash. Session value sums travel
    * as DECIMAL so the per-user re-aggregation is exact in both
    * engines (a double round-trip would make the rollup
    * order-sensitive); the single cast to double happens after the
    * final sum, like every decimal contract query.
    */
  private def streamSession(s: SparkSession, d: String): DataFrame =
    // session state grows with the user space -> RocksDB by policy;
    // the trailing no-data batch is REQUIRED (it advances the final
    // watermark so closed sessions flush to the sink)
    withStreamFanout(s, unboundedState = true) {
      appendSink(s, appendBase(d), "stream_session",
        "user_id BIGINT, session_start BIGINT, n_events BIGINT, v_dec DECIMAL(28,6)")(
        ScalarFns.sessions(streamTable(s, d, "events")))
    }.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        sum("v_dec").cast("double").as("value_sum"),
        min("session_start").as("first_session_start"),
        max("session_start").as("last_session_start"))
      .orderBy("user_id")

  /** The PRODUCTION session shape: watermark-FINALIZED session windows
    * appended to a parquet file sink — what `stream_session`'s
    * complete+memory harness deliberately is not. A session is emitted
    * exactly once, when the watermark (max event time − 2 h) passes its
    * end (last event + the 30-minute gap); nothing is ever re-emitted
    * or held driver-side, which is why this shape survives the sf100
    * decade where the complete-mode sink must materialize 95M rows on
    * the driver (see SCALE.md). The oracle applies the same cutoff in
    * exact integer microseconds: sessions whose end+gap ≤ final
    * watermark. The trailing no-data micro-batch is REQUIRED here —
    * it is what advances the watermark past the last data batch so
    * closed sessions actually flush (the per-query skipNoDataBatch
    * opt-out would silently truncate the output).
    */
  private def streamSessionAppend(s: SparkSession, d: String): DataFrame =
    // session state grows with the user space -> RocksDB by policy
    withStreamFanout(s, unboundedState = true) {
      appendSink(s, appendBase(d), "stream_session_append",
        "user_id BIGINT, session_start BIGINT, n_events BIGINT, value_sum DOUBLE")(
        ScalarFns.sessions(streamTable(s, d, "events"))
          .select(col("user_id"), col("session_start"), col("n_events"),
            col("v_dec").cast("double").as("value_sum")))
    }.orderBy("user_id", "session_start")

  private val streamSessionAppendOracle =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |      >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end,
      |    count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |  FROM sess GROUP BY user_id, sid)
      |SELECT user_id, floor(epoch(s_start))::BIGINT AS session_start,
      |  n_events, value_sum
      |FROM agg
      |WHERE epoch_us(s_end) + 1800000000 <=
      |  (SELECT epoch_us(max(ts)) - 7200000000 FROM events)
      |ORDER BY user_id, session_start""".stripMargin

  /** Stream-stream inner join: clicks joined to the user's purchases
    * within the following 30 minutes. Both sides are unbounded; the
    * watermark + time-range condition bound the join state (a click can
    * be dropped from state once the purchase-side watermark passes its
    * 30-minute horizon) — the canonical funnel-attribution shape at
    * stream scale.
    */
  private def streamJoin(s: SparkSession, d: String): DataFrame =
    // INNER join: matches emit in the data batch where both sides are
    // present; the trailing no-data batch only evicts state (an OUTER
    // join would need it to emit its null-padded rows on the watermark)
    // both sides buffer join state keyed by user -> RocksDB by policy
    withStreamFanout(s, skipNoDataBatch = true, unboundedState = true) {
      // ONE source pass, watermarked once, branched per side — round 3
      // built two independent events-stream scans (the whole events file
      // read and filtered twice); the watermark metadata follows the
      // column through the per-side renames. Reduced fan-out matters
      // doubly here: the join instantiates a state store per side per
      // partition, and store setup dominates at fixture scale.
      val ev = streamTable(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "2 hours")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      memorySink(s, "stream_join", "append")(
        clicks.join(purchases,
            col("user_id") === col("p_user") &&
              col("p_ts") >= col("click_ts") &&
              col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("user_id"), col("click_ts").cast("long").as("click_s"),
            col("p_ts").cast("long").as("purchase_s")))
        .orderBy("user_id", "click_s", "purchase_s")
    }

  /** Stream-static enrichment: the event stream joined to the static
    * customer dimension (user_id → c_custkey), then aggregated per
    * (market segment, event type) — the canonical "enrich the firehose
    * with a dim table" production shape. The static side needs no
    * watermark and holds NO join state: Spark re-plans it per
    * micro-batch and broadcasts it (customer at 100 TB event scale is
    * still the small side), so the only stateful operator is the final
    * aggregation — state O(segments × types), independent of stream
    * volume. Events without a matching customer pass through with a
    * null segment (left join): an enrichment must never DROP events
    * because the dim is stale — the unmatched bucket is the signal
    * that it is.
    */
  private def streamEnrich(s: SparkSession, d: String): DataFrame =
    // complete-mode agg re-emits every group each data batch; the
    // trailing no-data batch would only evict window state the
    // bounded replay is about to discard
    withStreamFanout(s, skipNoDataBatch = true) {
      val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      memorySink(s, "stream_enrich", "complete")(
        streamTable(s, d, "events")
          .withWatermark("ts", "2 hours")
          .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
          .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum")))
        .orderBy("segment", "event_type")
    }

  private val streamEnrichOracle =
    """SELECT c.c_mktsegment AS segment, e.event_type, count(*) AS n,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming anomaly scoring — the live arm of `event_anomaly`: the
    * event stream is scored row-locally against the BATCH-computed
    * per-user (mean, sd) reference table through the exact policy
    * function the batch query uses (ScalarFns.anomalyScore — one
    * definition, so the paths cannot drift), and flagged outliers
    * append straight to the sink. This is the production fraud/
    * telemetry split: a periodic batch job refreshes the stats table,
    * the stream scores against it with NO state store at all — a
    * stream-static join re-planned per micro-batch plus a row-local
    * z — so the scorer's memory is O(stats side), independent of
    * stream length. Oracle: the batch query's own SQL (same rows).
    */
  private def streamAnomaly(s: SparkSession, d: String): DataFrame =
    withStreamFanout(s, skipNoDataBatch = true) {
      memorySink(s, "stream_anomaly", "append")(
        ScalarFns.anomalyScore(streamTable(s, d, "events"),
          ScalarFns.anomalyStats(s, d)))
        .orderBy("event_id")
    }

  /** Word-count floor for the streaming ingest gate: fixture docs run
    * 10-100 words (p10 = 19), so 30 rejects a real fraction without
    * emptying any (lang, source) accounting group.
    */
  private val CORPUS_GATE_MIN_WORDS = 30

  /** Streaming corpus ingest — the crawl front door: the documents
    * table replayed as a stream through the SAME quality gate and
    * weighted-mix policy the batch pipeline applies
    * ([[TrainingPipeline.mixTierSql]] / MIX_SALT — one definition, so
    * stream and batch can never drift), then per-(lang, source)
    * ingest accounting. Every per-document decision is row-local
    * (no state), so the only stateful operator is the final
    * aggregation — state O(langs × sources), independent of crawl
    * volume; at production scale the sink is the kept-docs parquet in
    * append mode and this accounting is its side output.
    */
  private def streamCorpusGate(s: SparkSession, d: String): DataFrame =
    // complete-mode agg re-emits every group each data batch; no
    // watermark-finalized rows exist to wait for
    withStreamFanout(s, skipNoDataBatch = true) {
      val srcnum = "CAST(substr(source, 4) AS BIGINT)"
      memorySink(s, "stream_corpus_gate", "complete")(
        streamTable(s, d, "documents")
          .withColumn("n_words",
            expr("size(filter(split(text, '[^a-z]+'), x -> x <> ''))"))
          .withColumn("n_tok",
            expr("size(filter(split(text, '\\\\s+'), x -> x <> ''))")
              .cast("long"))
          .withColumn("h", expr(TrainingPipeline.hashExpr(TrainingPipeline.MIX_SALT)))
          .withColumn("weight_ppm", expr(TrainingPipeline.mixTierSql(srcnum)))
          .filter(col("n_words") >= CORPUS_GATE_MIN_WORDS &&
            col("h") < col("weight_ppm"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_kept"), sum("n_tok").as("n_tokens")))
        .orderBy("lang", "source")
    }

  private def streamCorpusGateOracle: String = {
    val srcnum = "CAST(substr(source, 4) AS BIGINT)"
    s"""WITH base AS (
       |  SELECT lang, source,
       |    len(list_filter(string_split_regex(text, '[^a-z]+'), x -> x <> '')) AS n_words,
       |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tok,
       |    ${TrainingPipeline.hashExpr(TrainingPipeline.MIX_SALT)} AS h,
       |    ${TrainingPipeline.mixTierSql(srcnum)} AS weight_ppm
       |  FROM documents)
       |SELECT lang, source, count(*)::BIGINT AS n_kept,
       |  sum(n_tok)::BIGINT AS n_tokens
       |FROM base WHERE n_words >= $CORPUS_GATE_MIN_WORDS AND h < weight_ppm
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  private val streamJoinOracle =
    """SELECT c.user_id, floor(epoch(c.ts))::BIGINT AS click_s,
      |  floor(epoch(p.ts))::BIGINT AS purchase_s
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
      |ORDER BY 1, 2, 3""".stripMargin

  /** Tumbling windows FINALIZED past the watermark, appended to a
    * parquet FILE sink and read back — the production sink shape the
    * other stream harnesses only document (complete+memory materializes
    * full results on the driver; a 100 TB pipeline appends closed
    * windows to files/Kafka and never holds results driver-side). Only
    * windows whose end the final watermark (max event time − 2 h)
    * passed are emitted; the oracle applies the same cutoff in exact
    * microsecond integers.
    *
    * One bounded run against the `glob`-matched files under `d` right
    * now, appending to `base/out` with its checkpoint at `base/ckpt`,
    * returns the sink read back. Factored out of [[streamTumblingAppend]]
    * so StreamRecoverySpec can run THIS code twice over a growing input
    * dir with the SAME checkpoint — a restart must pick up exactly
    * where the stopped run left off (no lost windows, no re-emitted
    * ones), which is the recovery property a production pipeline
    * relies on and a spec-side pipeline copy could not certify. The
    * glob defaults to the exact batch-twin file; only the recovery
    * spec widens it so the input can GROW between runs.
    */
  private[graft] def runTumblingAppend(s: SparkSession, d: String,
      base: String, glob: Option[String] = None): DataFrame =
    withStreamFanout(s) {
      appendSink(s, base, "stream_tumbling_append",
        "bucket BIGINT, event_type STRING, n BIGINT, value_sum DOUBLE")(
        ScalarFns.tumbling(streamTable(s, d, "events", glob)))
    }

  private def streamTumblingAppend(s: SparkSession, d: String): DataFrame =
    runTumblingAppend(s, d, appendBase(d)).orderBy("bucket", "event_type")

  /** Sliding windows (1 hour every 30 minutes) FINALIZED past the
    * watermark, appended to a parquet file sink and read back — the
    * production-shape twin the sliding family lacked (tumbling and
    * session each had one; `stream_sliding`'s complete+memory harness
    * is a fixture-scale shape that materializes full state
    * driver-side). A window is emitted exactly once, when the final
    * watermark (max event time − 2 h, advanced by the REQUIRED
    * trailing no-data batch) passes its end; each event feeds two
    * overlapping windows, so the state is 2× tumbling's but still
    * bounded by the watermark horizon — O(active windows), never
    * O(stream) — which is why this stays on the HEAP provider per the
    * SCALE.md policy table. The oracle applies the same end≤watermark
    * cutoff in exact integer microseconds over the same two-bucket
    * union as `stream_sliding`'s.
    */
  private def streamSlidingAppend(s: SparkSession, d: String): DataFrame =
    withStreamFanout(s) {
      appendSink(s, appendBase(d), "stream_sliding_append",
        "bucket BIGINT, n BIGINT, value_sum DOUBLE")(
        ScalarFns.sliding(streamTable(s, d, "events")))
    }.orderBy("bucket")

  private val streamSlidingAppendOracle =
    """WITH agg AS (
      |  SELECT epoch(bucket)::BIGINT AS bucket, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |  FROM (
      |    SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, value FROM events
      |    UNION ALL
      |    SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') AS bucket, value
      |    FROM events)
      |  GROUP BY bucket)
      |SELECT bucket, n, value_sum FROM agg
      |WHERE bucket * 1000000 + 3600000000 <=
      |  (SELECT epoch_us(max(ts)) - 7200000000 FROM events)
      |ORDER BY bucket""".stripMargin

  private val streamTumblingAppendOracle =
    """WITH agg AS (
      |  SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS bucket,
      |    event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |  FROM events GROUP BY 1, 2)
      |SELECT bucket, event_type, n, value_sum FROM agg
      |WHERE bucket * 1000000 + 3600000000 <=
      |  (SELECT epoch_us(max(ts)) - 7200000000 FROM events)
      |ORDER BY bucket, event_type""".stripMargin

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_csv_roundtrip"  -> csvRoundtrip _,
    "src_json_roundtrip" -> jsonRoundtrip _,
    "src_text_wordcount" -> textRoundtrip _,
    "src_partitioned"    -> partitionedRoundtrip _,
    "src_orc_roundtrip"  -> orcRoundtrip _,
    "src_bad_records"    -> badRecords _,
    "stream_tumbling"    -> streamTumbling _,
    "stream_tumbling_append" -> streamTumblingAppend _,
    "stream_sliding"     -> streamSliding _,
    "stream_sliding_append" -> streamSlidingAppend _,
    "stream_dedup"       -> streamDedup _,
    "stream_join"        -> streamJoin _,
    "stream_session"     -> streamSession _,
    "stream_session_append" -> streamSessionAppend _,
    "stream_enrich"      -> streamEnrich _,
    "stream_anomaly"     -> streamAnomaly _,
    "stream_corpus_gate" -> streamCorpusGate _,
  )

  val oracles: Map[String, String] = Map(
    "src_csv_roundtrip"  -> csvOracle,
    "src_json_roundtrip" -> jsonOracle,
    "src_text_wordcount" -> textOracle,
    "src_partitioned"    -> partitionedOracle,
    "src_orc_roundtrip"  -> orcOracle,
    "src_bad_records"    -> badRecordsOracle,
    "stream_tumbling"    -> ScalarFns.oracles("event_tumbling"),
    "stream_tumbling_append" -> streamTumblingAppendOracle,
    "stream_sliding"     -> ScalarFns.oracles("event_sliding"),
    "stream_sliding_append" -> streamSlidingAppendOracle,
    "stream_dedup"       -> streamDedupOracle,
    "stream_join"        -> streamJoinOracle,
    "stream_session_append" -> streamSessionAppendOracle,
    "stream_enrich"      -> streamEnrichOracle,
    "stream_anomaly"     -> ScalarFns.eventAnomalyOracle,
    "stream_corpus_gate" -> streamCorpusGateOracle,
    "stream_session"     ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end,
        |    count(*) AS n_events,
        |    sum(CAST(value AS DECIMAL(18,6))) AS v_dec
        |  FROM sess GROUP BY user_id, sid),
        |fin AS (
        |  SELECT user_id, floor(epoch(s_start))::BIGINT AS session_start,
        |    n_events, v_dec
        |  FROM agg
        |  WHERE epoch_us(s_end) + 1800000000 <=
        |    (SELECT epoch_us(max(ts)) - 7200000000 FROM events))
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        |  sum(n_events)::BIGINT AS n_events,
        |  CAST(sum(v_dec) AS DOUBLE) AS value_sum,
        |  min(session_start) AS first_session_start,
        |  max(session_start) AS last_session_start
        |FROM fin GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
