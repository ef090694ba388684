package graft

import org.apache.spark.sql.SparkSession

/** Per-query session tuning helpers. */
object Tuning {

  /** Run `f` with each of `pairs` set on the session, then restore each
    * key's previous value, or unset it if it had none. Every scoped conf
    * in this object goes through here.
    */
  def withConfs[T](s: SparkSession, pairs: (String, String)*)(f: => T): T = {
    val olds = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Run `f` with a transiently reduced shuffle-partition count, restoring
    * the session's previous value after.
    *
    * Used where the shuffled data is known-tiny relative to the session
    * default — stateful streaming (one state store instantiates per
    * partition per stateful operator) and iterative driver loops over
    * small label/edge tables (per-round task-launch overhead dominates).
    * Partition count never changes results — only hash-bucket fan-out.
    * At production scale the knob moves UP with key cardinality instead.
    */
  def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T =
    withConfs(s, "spark.sql.shuffle.partitions" -> n.toString)(f)

  /** Run `f` with the trailing no-data microbatch disabled, restoring
    * after.
    *
    * A bounded `Trigger.AvailableNow` replay runs one extra empty batch
    * after the data is consumed, solely to advance the watermark and
    * emit/evict watermark-gated state. Queries whose OUTPUT never waits
    * on the watermark — complete-mode aggregations (the full result is
    * rewritten in the last data batch) and streaming dedup (each row is
    * emitted in the batch it arrives; the extra batch only evicts
    * state) — pay that batch's full state-store commit cycle for
    * nothing, and at fixture scale the commit cycle IS the cost.
    * Queries that finalize on the watermark (append-mode windows and
    * session merges, OUTER stream-stream joins emitting null pads)
    * MUST keep it; an INNER stream-stream join may skip it because
    * matches emit in the data batch where both sides are present.
    */
  def withoutNoDataMicroBatch[T](s: SparkSession)(f: => T): T =
    withConfs(s, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(f)

  /** Spark's disk-backed state-store provider (the default is the
    * in-heap HDFSBackedStateStoreProvider). */
  val ROCKSDB_PROVIDER: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"

  /** The RocksDB state store as the shipped queries run it: the provider
    * plus two write-path knobs (r18 optimization; measured at sf0.1:
    * session_append min 2.38 -> 1.99 s, stream-stream join 2.27 ->
    * 2.00 s — probe log in OPTIMIZATION_r18.md §streams). Both are
    * scale-directed, not local hacks:
    *  - changelogCheckpointing: commit uploads the batch's changelog
    *    instead of a full snapshot (snapshots move to async
    *    maintenance) — at 100 TB state the per-commit upload is
    *    O(delta), not O(store); recovery replays the changelog onto
    *    the last snapshot (Spark's own large-deployment default).
    *  - trackTotalNumberOfRows=false: skips the read-before-write that
    *    exists only to keep the numTotalStateRows METRIC exact;
    *    write-heavy stores pay a get per put for observability. At
    *    fixture scale that get is ~20 % of the commit cycle; at scale it
    *    is pure write amplification. Results unchanged — StreamingSpec
    *    proves provider-independence of every query.
    * Shared by the policy scope and the forced `rocksdb` arm, so a
    * measurement of RocksDB measures this config.
    */
  val RocksDbConfs: Seq[(String, String)] = Seq(
    PROVIDER_KEY -> ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  /** Measurement escape hatch: when set (system property), the policy
    * wrapper becomes a no-op and the session-level provider governs.
    * Exists ONLY for the measurement mains (`StreamStateBench`, `Bench`
    * under `SPARK_GRAFT_STATE_PROVIDER`), which price heap-vs-RocksDB on
    * the SAME contract queries — without the hatch a heap arm would
    * silently measure RocksDB for exactly the unbounded-state queries
    * whose heap cost it exists to record. Never set in production;
    * StreamStateBenchSpec asserts the policy engages when the property
    * is absent. Set only through [[withForcedStateStore]].
    */
  val STATE_STORE_FORCED_PROP = "graft.stateStore.forced"

  /** Run `body` with the state store forced to `provider` — `heap`
    * (Spark's default provider), `rocksdb` or [[ROCKSDB_PROVIDER]] (both
    * [[RocksDbConfs]]), or any other provider class — and the hatch
    * property set to it; `None` forces nothing. `body` gets the confs
    * that select the provider, for the session it builds. Afterwards the
    * property is back at its prior value, or unset if it had none: an
    * in-process caller (test, REPL, embedding harness) keeps its own
    * setting — set/restore, never set/clear.
    */
  def withForcedStateStore[T](provider: Option[String])(
      body: Seq[(String, String)] => T): T = provider match {
    case None => body(Nil)
    case Some(p) =>
      val confs = p match {
        case "heap" => Nil
        case "rocksdb" | ROCKSDB_PROVIDER => RocksDbConfs
        case other => Seq(PROVIDER_KEY -> other)
      }
      val prior = sys.props.get(STATE_STORE_FORCED_PROP)
      sys.props(STATE_STORE_FORCED_PROP) = p
      try body(confs) finally prior match {
        case Some(v) => sys.props(STATE_STORE_FORCED_PROP) = v
        case None    => sys.props -= STATE_STORE_FORCED_PROP
      }
  }

  /** Run `f` with the streaming state store switched to RocksDB
    * ([[RocksDbConfs]]), restoring the session's previous confs after.
    *
    * This is a POLICY, not a tuning flag (STREAM_STATE_sf100.json, the
    * measured decision it encodes): at 100M events the default heap
    * provider held 44.3 GB of session-window state on a 96 GB heap —
    * one decade from OOM — while RocksDB held 0.25 GB heap + 3.3 GB
    * SST at +28% wall. Queries whose state grows with the KEY SPACE
    * (session windows per user, exact dedup per key, stream-stream
    * join buffers) therefore default to RocksDB in their builders:
    * the +28% wall is insurance priced against an executor OOM that
    * kills the query outright one decade up. Bounded-state
    * aggregations (tumbling/sliding windows, complete-mode group-bys
    * whose key count is a dimension, not the stream) stay on heap —
    * their state is KB and the RocksDB commit cycle would be pure
    * overhead. The decision table lives in SCALE.md §Streaming.
    *
    * SINGLE-THREADED per session, like every set/run/restore helper in
    * this object: two streaming queries launched concurrently on the
    * same session would race on the shared session conf — a
    * bounded-state query started inside an unbounded one's window
    * would silently capture the RocksDB provider, and the nested
    * restore can clobber the outer one. Every current call site runs
    * queries strictly sequentially (Verify, Bench, the spec suites); a
    * future parallel sweep must either serialize these scopes or give
    * each thread its own `SparkSession.newSession()` (session confs
    * are per-session, so cloned sessions don't race).
    */
  def withRocksDbStateStore[T](s: SparkSession)(f: => T): T =
    if (sys.props.contains(STATE_STORE_FORCED_PROP)) f
    else withConfs(s, RocksDbConfs: _*)(f)

  /** Run `f` with constraint propagation disabled, restoring after.
    *
    * Iterative driver loops gain nothing from inferred constraints (each
    * round is checkpointed anyway) while paying their planning cost —
    * and a checkpointed round whose projection aliases a multi-source
    * expression (e.g. coalesce over both join sides) can carry
    * constraints referencing non-output attributes into the LogicalRDD,
    * which crashes the next round's union constraint rewrite
    * (NoSuchElementException in UnionBase.rewriteConstraints). Plans
    * checkpointed inside this scope record EMPTY origin constraints, so
    * they stay safe to compose after the flag is restored.
    */
  def withoutConstraintPropagation[T](s: SparkSession)(f: => T): T =
    withConfs(s, "spark.sql.constraintPropagation.enabled" -> "false")(f)
}
