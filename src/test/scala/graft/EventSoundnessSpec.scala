package graft

import org.apache.spark.sql.functions._

/** Planted-sequence soundness of the event-window family, end to end
  * through the PRODUCTION queries: engineered timelines with
  * hand-computed sessions and funnel outcomes. The DuckDB oracle proves
  * cross-engine agreement on the fixture; this proves the agreed
  * semantics — the 30-minute session gap actually splits where a
  * session should split, and the funnel's strictly-later chaining
  * rejects out-of-order conversions.
  */
class EventSoundnessSpec extends SparkSpec {

  private val T0 = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
  private def at(minutes: Long, micros: Long = 0): java.sql.Timestamp =
    new java.sql.Timestamp(T0.getTime + minutes * 60000 + micros / 1000)

  private def writeEvents(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    val dir = TestScratch.dir("graft_evt_sound_")
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("""{"k": 0}"""))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("event_session splits exactly at the 30-minute gap") {
    // user 1: events at +0, +10, +45 min — the 35-min gap after +10
    // must close the first session (2 events) and open a second (1);
    // user 2: a single event = a single 1-event session
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 1.5),
      (2L, at(10), 1L, "click", 2.5),
      (3L, at(45), 1L, "view", 4.0),
      (4L, at(7), 2L, "view", 8.0)))
    val got = operators.ScalarFns.queries("event_session")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val t0s = T0.getTime / 1000
    assert(got == Map(
      (1L, t0s) -> ((2L, 4.0)),
      (1L, t0s + 45 * 60) -> ((1L, 4.0)),
      (2L, t0s + 7 * 60) -> ((1L, 8.0))), s"got $got")
  }

  test("event_retention counts day-1 and day-7 returns against the " +
      "first-purchase cohort day") {
    def day(d: Int, hour: Int = 9): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-03-${d}%02d $hour%02d:00:00")
    // users 1,2 cohort on day 1 (first purchase); user 1 returns on
    // day 2 AND day 8 (any activity counts), user 2 only on day 3;
    // user 3 never purchases and must not enter any cohort
    val dir = writeEvents(Seq(
      (1L, day(1), 1L, "purchase", 0),
      (2L, day(2), 1L, "view", 0),
      (3L, day(8), 1L, "click", 0),
      (4L, day(1, 18), 2L, "purchase", 0),
      (5L, day(3), 2L, "view", 0),
      (6L, day(1), 3L, "view", 0),
      (7L, day(2), 3L, "view", 0)))
    val got = operators.ScalarFns.queries("event_retention")(spark, dir)
      .collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map("2024-03-01" -> ((2L, 1L, 1L))), s"got $got")
  }

  test("rel_asof_join matches each event to the latest at-or-before " +
      "order-day rollup, hand-computed") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = writeEvents(Seq(
      (1L, ts("2024-03-01 12:00:00"), 1L, "view", 0), // after day-1 rollup
      (2L, ts("2024-03-02 09:00:00"), 1L, "view", 0), // carry day-1 forward
      (3L, ts("2024-03-03 00:00:00"), 1L, "view", 0), // EXACT tie: at-or-before
      (4L, ts("2024-02-28 08:00:00"), 1L, "view", 0), // before any order: nulls
      (5L, ts("2024-03-02 10:00:00"), 2L, "view", 0))) // user with no orders
    import spark.implicits._
    Seq(
      (10L, 1L, "O", 100.0, ts("2024-03-01 00:00:00"), "1-URGENT"),
      (11L, 1L, "O", 50.0, ts("2024-03-01 00:00:00"), "1-URGENT"),
      (12L, 1L, "O", 70.0, ts("2024-03-03 00:00:00"), "1-URGENT"),
      (13L, 3L, "O", 999.0, ts("2024-03-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.RelationalExt.queries("rel_asof_join")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.getDate(3)).map(_.toString),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5))))
      .toMap
    assert(got == Map(
      1L -> ((Some("2024-03-01"), 2L, 150.0)),
      2L -> ((Some("2024-03-01"), 2L, 150.0)),
      3L -> ((Some("2024-03-03"), 1L, 70.0)),
      4L -> ((None, -1L, -1.0)),
      5L -> ((None, -1L, -1.0))), s"got $got")
  }

  test("event_funnel takes the earliest strictly-ordered chain and " +
      "rejects users whose purchase precedes the click") {
    val dir = writeEvents(Seq(
      // user 1 converts: view +0, noise click BEFORE the view at -5
      // must not count, click +2, a too-early purchase at +1 must not
      // count, purchase +3
      (1L, at(0), 1L, "view", 0),
      (2L, at(-5), 1L, "click", 0),
      (3L, at(2), 1L, "click", 0),
      (4L, at(1), 1L, "purchase", 0),
      (5L, at(3), 1L, "purchase", 0),
      // user 2 never converts: purchase sits before its only click
      (6L, at(0), 2L, "view", 0),
      (7L, at(20), 2L, "click", 0),
      (8L, at(10), 2L, "purchase", 0),
      // user 3 has no view at all
      (9L, at(0), 3L, "click", 0),
      (10L, at(1), 3L, "purchase", 0)))
    val got = operators.ScalarFns.queries("event_funnel")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val t0s = T0.getTime / 1000
    assert(got == Map(
      1L -> ((t0s, t0s + 2 * 60, t0s + 3 * 60))), s"got $got")
  }

  test("event_anomaly excludes zero-variance users (clamped variance, " +
      "never NaN) and flags the planted outlier") {
    // user 1: 20 events at 10.0 + one at 20.0 — mean 10.476,
    // sd ≈ 2.18, so only the 20.0 event clears |z| >= 3 (z ≈ 4.37);
    // user 7: 6 events all EXACTLY 0.1 — zero variance. Its double
    // power-sum numerator sxx − sx²/n can round a few ulps negative;
    // the clamped sqrt(greatest(·, 0)) must turn that into sd = 0 and
    // the sd > 0 filter must drop the user — in BOTH engines (the
    // unclamped DuckDB oracle THREW on sqrt(negative) instead)
    val rows = (1 to 20).map(i => (i.toLong, at(i), 1L, "view", 10.0)) ++
      Seq((21L, at(21), 1L, "view", 20.0)) ++
      (1 to 6).map(i => (100L + i, at(i), 7L, "view", 0.1))
    val dir = writeEvents(rows)
    val got = operators.ScalarFns.queries("event_anomaly")(spark, dir)
      .collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(21L),
      s"expected exactly the planted outlier event flagged, got " +
        got.map(_.getLong(0)).mkString(","))
    assert(got.forall(r => !r.getDouble(3).isNaN && !r.getDouble(2).isNaN),
      "anomaly output must never carry NaN")
    assert(got.forall(_.getLong(1) != 7L),
      "the zero-variance user must be excluded")
  }

  test("event_attribution credits the LAST preceding touch, direct when " +
      "none precedes, and never credits retroactively") {
    // user 1: view(+0) -> click(+5) -> purchase(+10): LAST touch wins
    //   (click, not the earlier view), then a later view(+20) must not
    //   re-attribute anything;
    // user 2: purchase(+1) with no prior touch -> direct; a click(+2)
    //   AFTER it must not credit retroactively; second purchase(+3)
    //   credits that click;
    // user 3: click and purchase at the SAME ts — the (ts, event_id)
    //   total order makes the smaller-event_id click "preceding";
    // user 4: only an error event then a purchase -> non-touch events
    //   never attribute (direct), and never RESET a carried touch
    //   (user 1's error at +7 sits between click and purchase).
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 1.0),
      (2L, at(5), 1L, "click", 1.0),
      (3L, at(7), 1L, "error", 9.0),
      (4L, at(10), 1L, "purchase", 10.25),
      (5L, at(20), 1L, "view", 1.0),
      (6L, at(1), 2L, "purchase", 5.50),
      (7L, at(2), 2L, "click", 1.0),
      (8L, at(3), 2L, "purchase", 7.75),
      (9L, at(30), 3L, "click", 1.0),
      (10L, at(30), 3L, "purchase", 3.00),
      (11L, at(4), 4L, "error", 1.0),
      (12L, at(6), 4L, "purchase", 2.25)))
    val got = operators.ScalarFns.queries("event_attribution")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      // user 1 (+10, click carried over the error) + user 2 (+3) +
      // user 3 (same-ts click by event_id order)
      "click" -> ((3L, 3L, 21.0)),
      // user 2's first purchase + user 4 (error is not a touch)
      "direct" -> ((2L, 2L, 7.75))), s"got $got")
  }

  test("event_paths builds OVERLAPPING per-user trigrams that never " +
      "cross a user boundary, ranked with the path tiebreak") {
    // user 1: view,click,purchase,view -> trigrams view>click>purchase
    //   and click>purchase>view (overlap by two);
    // user 2: click,view -> too short, no trigram, and its events must
    //   NOT chain onto user 1's to fabricate one;
    // user 3: view,click,purchase -> repeats user 1's first trigram
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 1.0),
      (2L, at(1), 1L, "click", 1.0),
      (3L, at(2), 1L, "purchase", 1.0),
      (4L, at(3), 1L, "view", 1.0),
      (5L, at(0), 2L, "click", 1.0),
      (6L, at(1), 2L, "view", 1.0),
      (7L, at(0), 3L, "view", 1.0),
      (8L, at(1), 3L, "click", 1.0),
      (9L, at(2), 3L, "purchase", 1.0)))
    val got = operators.ScalarFns.queries("event_paths")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == List(
      "view>click>purchase" -> 2L,
      "click>purchase>view" -> 1L), s"got $got")
  }

  test("event_transitions counts adjacent pairs within a user only and " +
      "emits exact row-conditional probabilities") {
    // user 1: view,click,view,click -> view>click x2, click>view x1;
    // user 2: click (alone) -> no pair, and its click must NOT chain
    //   onto user 1's trailing click across the boundary;
    // user 3: view,error -> view>error x1
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 1.0),
      (2L, at(1), 1L, "click", 1.0),
      (3L, at(2), 1L, "view", 1.0),
      (4L, at(3), 1L, "click", 1.0),
      (5L, at(0), 2L, "click", 1.0),
      (6L, at(0), 3L, "view", 1.0),
      (7L, at(1), 3L, "error", 1.0)))
    val got = operators.ScalarFns.queries("event_transitions")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      ("click", "view") -> ((1L, 1.0)),
      ("view", "click") -> ((2L, 2.0 / 3.0)),
      ("view", "error") -> ((1L, 1.0 / 3.0))), s"got $got")
    // probabilities are row-conditional: they sum to 1 per from_type
    got.groupBy(_._1._1).foreach { case (from, rows) =>
      assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-15,
        s"$from probabilities do not sum to 1")
    }
  }

  test("event_funnel_conv reports exact stage counts and conversion " +
      "rates from the strictly-ordered chain") {
    // user 1: full chain; user 2: view only; user 3: view then click,
    // no purchase; user 4: purchase BEFORE any view — reaches no stage
    // (the strict ordering the row-level funnel spec already pins)
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 1.0),
      (2L, at(1), 1L, "click", 1.0),
      (3L, at(2), 1L, "purchase", 1.0),
      (4L, at(0), 2L, "view", 1.0),
      (5L, at(0), 3L, "view", 1.0),
      (6L, at(1), 3L, "click", 1.0),
      (7L, at(0), 4L, "purchase", 1.0),
      (8L, at(1), 4L, "view", 1.0)))
    val r = operators.ScalarFns.queries("event_funnel_conv")(spark, dir)
      .collect().head
    // 4 viewers (user 4's view counts: stage 1 has no predecessor),
    // 2 clickers, 1 purchaser
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 2L, 1L)), r)
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 0.5 &&
      r.getDouble(5) == 0.25, s"conversion rates wrong: $r")
  }

  test("event_paths NULL-propagates a NULL event_type into a NULL path " +
      "(the oracle's || semantics), never a shrunken 2-part path") {
    // user 1: v,c,p,NULL,v,c,p. Windows whose THIRD element is the
    // NULL-typed event are dropped by the to2 filter in BOTH engines;
    // windows where it sits FIRST or SECOND survive and must group
    // under the NULL path (concat_ws would silently emit 'purchase>view'
    // / 'view>click' 2-part paths here - the latent divergence this pins)
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 0),
      (2L, at(1), 1L, "click", 0),
      (3L, at(2), 1L, "purchase", 0),
      (4L, at(3), 1L, null, 0),
      (5L, at(4), 1L, "view", 0),
      (6L, at(5), 1L, "click", 0),
      (7L, at(6), 1L, "purchase", 0)))
    val collected = operators.ScalarFns.queries("event_paths")(spark, dir)
      .collect()
    val rows = collected
      .map(r => (if (r.isNullAt(0)) "<null>" else r.getString(0)) -> r.getLong(1))
      .toMap
    assert(rows == Map("view>click>purchase" -> 2L, "<null>" -> 2L),
      s"NULL event_type must yield NULL paths, got $rows")
    // the driver compares rows POSITIONALLY and the engines' default
    // NULL sort positions differ (Spark ASC = NULLS FIRST, DuckDB =
    // NULLS LAST); this fixture is the exact 2-vs-2 n-tie where the
    // default would diverge — the query pins NULLS LAST explicitly, so
    // the real path must come first and the NULL path dead last
    assert(!collected.head.isNullAt(0) && collected.last.isNullAt(0),
      s"NULL path must sort after n-tied real paths (NULLS LAST pin), got " +
        collected.map(r => if (r.isNullAt(0)) "<null>" else r.getString(0)).toSeq)
  }

  test("event_transitions puts the NULL from_type group last " +
      "(both engines' ORDER BY pins NULLS LAST)") {
    // user 1: view, NULL, click, purchase. The (view -> NULL) edge is
    // dropped by the to1 filter; the (NULL -> click) edge survives with
    // a NULL from_type — no n-tie needed, the engines' DEFAULT null
    // sort positions alone would already diverge on it.
    val dir = writeEvents(Seq(
      (1L, at(0), 1L, "view", 0),
      (2L, at(1), 1L, null, 0),
      (3L, at(2), 1L, "click", 0),
      (4L, at(3), 1L, "purchase", 0)))
    val rows = operators.ScalarFns.queries("event_transitions")(spark, dir)
      .collect()
    assert(rows.length == 2, rows.toSeq)
    // ("click" -> "purchase") sorts before the NULL-from group
    assert(rows.head.getString(0) == "click" && rows.last.isNullAt(0),
      s"NULL from_type must sort last, got " +
        rows.map(r => if (r.isNullAt(0)) "<null>" else r.getString(0)).toSeq)
    assert(rows.last.getString(1) == "click",
      s"the NULL-from edge must point at 'click', got ${rows.last}")
  }
}
