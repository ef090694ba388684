package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The streaming dedup disciplines and the custom-state session
  * operator. The windowed event aggregations are not here: each is
  * defined once, for batch and stream alike, beside the batch queries
  * (`ScalarFns.tumbling`, `sliding`, `sessions`), and the `stream_*`
  * contract queries in `Sources` run those definitions over a
  * streaming source.
  *
  * The reference is strictly batch (hard map→reduce barrier,
  * `src/master.cc:160-168`); these are the streaming superset a
  * Spark-native engine adds: dedup in three state disciplines
  * ([[dedupStream]], [[dedupStreamExact]] — which `stream_dedup` runs —
  * and [[dedupStreamWithinWatermark]]), plus an explicit
  * `flatMapGroupsWithState` operator for custom session state.
  *
  * Scale notes: state is keyed by the dedup key or the user and
  * partitioned by the same hash shuffle as the batch aggregations; the
  * watermark bounds state size where the discipline lets it evict —
  * without it a 100 TB/day stream accumulates state without limit.
  *
  * Input contract: a streaming DataFrame with the `events` schema
  * (ts: timestamp, user_id: long, event_type: string, value: double) —
  * from `Tables.streamTable`, Kafka, or a MemoryStream (tests).
  */
object Streams {

  /** Per-(key, ts) dedup — the original `dedupStream` contract: two
    * events are duplicates only if key AND timestamp match (at-least-once
    * redelivery of the same record), so the watermark CAN evict state
    * (a given (key, ts) stops being re-deliverable once ts falls behind
    * it) and state stays bounded on unbounded key spaces. For
    * first-occurrence-only semantics use [[dedupStreamExact]] — kept a
    * separate, opt-in name because its state is NOT watermark-evictable.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates(keyCols :+ "ts")

  /** Streaming EXACT dedup on a key — the streaming form of
    * Dedup.exactKeep, and the operator `stream_dedup` runs: every key's
    * first occurrence passes, all later ones drop, regardless of how
    * far apart they arrive. Exact dedup inherently keeps state
    * proportional to the distinct-key count (the watermark cannot evict
    * a key that must still suppress duplicates arbitrarily far in the
    * future) — acceptable when keys are bounded (entities, content
    * digests); otherwise use [[dedupStream]] or
    * [[dedupStreamWithinWatermark]].
    */
  def dedupStreamExact(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates(keyCols)

  /** Watermark-BOUNDED dedup: duplicates are only suppressed while the
    * first occurrence is younger than the watermark delay, and state is
    * evicted past it — the 100 TB/day shape when the key space is
    * unbounded and duplicates are known to arrive close together
    * (at-least-once redelivery).
    */
  def dedupStreamWithinWatermark(events: DataFrame,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCols)

  // ---- custom state: flatMapGroupsWithState --------------------------

  final case class Event(ts: java.sql.Timestamp, userId: Long,
      eventType: String, value: Double)
  final case class UserSessionState(nEvents: Long, valueSum: Double,
      lastTs: Long)
  final case class SessionOut(userId: Long, nEvents: Long, valueSum: Double,
      closed: Boolean)

  /** Custom sessionization: emits a SessionOut when a user's session
    * closes — either a later in-session event arrives past the gap, or
    * the EVENT-TIME timeout fires (watermark passes lastTs + gap). The
    * shape a real pipeline uses for per-entity rolling state Spark's
    * built-ins can't express.
    *
    * Ordering note: events are sorted per-batch only, and an out-of-order
    * event arriving in a LATER batch (e.ts < state.lastTs) must not
    * regress the session clock — it is folded into the current session
    * and `lastTs` advances monotonically (`max`).
    *
    * Timeout note: event-time timeout + watermark (not processing-time):
    * close is deterministic in the data, state is watermark-bounded at
    * scale, and — operationally — a registered processing-time timer
    * turns the default trigger into a continuous empty-batch loop even
    * with no data flowing.
    */
  def statefulSessions(events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[UserSessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.nEvents, s.valueSum, closed = true))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            // Long.MinValue sentinel, NOT 0: epoch-zero timestamps are
            // legitimate events and must not disable gap detection
            val init =
              state.getOption.getOrElse(UserSessionState(0L, 0.0, Long.MinValue))
            var (n, v, last) = (init.nEvents, init.valueSum, init.lastTs)
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              // >= gap closes, matching session_window's half-open
              // [start, last+gap) — an event at exactly last+gap starts
              // a NEW session in both operators
              if (last != Long.MinValue && e.ts.getTime - last >= gapMs) {
                closed += SessionOut(userId, n, v, closed = true)
                n = 0L; v = 0.0
              }
              n += 1; v += e.value; last = math.max(last, e.ts.getTime)
            }
            state.update(UserSessionState(n, v, last))
            // a late (within-delay) event can leave last+gap behind the
            // watermark — clamp forward, Spark rejects timestamps <= wm
            state.setTimeoutTimestamp(
              math.max(last + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.result().iterator
          }
      }
  }
}
