package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Second wave of the SURVEY §2.B relational surface: outer/cross joins,
  * explicit grouping sets, the full window-frame toolbox, exact
  * statistical aggregates, percentiles, an as-of join, and a
  * skew-immune salted aggregation.
  *
  * Determinism notes:
  *  - statistical aggregates (stddev/var/corr/covar) are DERIVED from
  *    exact DECIMAL power sums and computed with an identical double
  *    formula in both engines — built-in stddev_samp would accumulate
  *    doubles in partition order and drift from DuckDB in the last ulps;
  *  - percentiles use l_quantity (integer-valued doubles), where linear
  *    interpolation at k/4 quantiles is exact in binary regardless of
  *    each engine's interpolation formula;
  *  - the as-of join is implemented scale-out (union + per-key ordered
  *    window carry-forward, the standard Spark formulation) and checked
  *    against DuckDB's native ASOF LEFT JOIN.
  */
object RelationalExt extends QueryModule {

  import Tables._

  // ---- full outer / cross joins ---------------------------------------

  /** Full outer: nations (a filtered subset) vs per-nation supplier
    * rollup — exercises both null sides.
    */
  private def joinFull(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d).filter(col("n_nationkey") >= 5)
      .select(col("n_nationkey"), col("n_name"))
    val sa = supplier(s, d).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
    n.join(sa, col("n_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("n_nationkey"), col("s_nationkey")).as("nationkey"),
        col("n_name"), col("n_supp"), col("total_bal"))
      .orderBy("nationkey")
  }

  private val joinFullOracle =
    """SELECT coalesce(n_nationkey, s_nationkey) AS nationkey, n_name,
      |  n_supp, total_bal
      |FROM (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 5) n
      |FULL OUTER JOIN (
      |  SELECT s_nationkey, count(*) AS n_supp,
      |    CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |  FROM supplier GROUP BY s_nationkey) sa
      |ON n_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  private def joinCross(s: SparkSession, d: String): DataFrame =
    region(s, d).select(col("r_name"))
      .crossJoin(customer(s, d).select(col("c_mktsegment")).distinct())
      .orderBy("r_name", "c_mktsegment")

  private val joinCrossOracle =
    """SELECT r_name, c_mktsegment
      |FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
      |ORDER BY r_name, c_mktsegment""".stripMargin

  // ---- explicit grouping sets -----------------------------------------

  private def groupingSetsQ(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val groupingSetsOracle =
    """SELECT l_returnflag, l_linestatus,
      |  (GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus))::BIGINT AS gid,
      |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---- window frames: ntile / percent_rank / cume_dist / nth_value ----

  private def windowFrames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // NOT materialized-once (unlike rel_window_range/rel_asof_join,
    // whose final-stage double-eval the r17 round cut): this query is
    // SpillPathSpec's Window-operator spill witness, and an eager
    // checkpoint would move the window's execution (and its spill
    // metrics) out of the plan the spec reads back — a ~0.1 s win is
    // not worth blinding the spill-correctness evidence.
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("top_price", first(col("o_totalprice")).over(w))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(w))
      .withColumn("bottom_price", last(col("o_totalprice")).over(wFull))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val windowFramesOracle =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume,
      |  first_value(o_totalprice) OVER w AS top_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price,
      |  last_value(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- range-frame window: 30-day rolling spend -----------------------

  /** RANGE frame over a numeric day index — the rolling time-series
    * aggregate (value-based frame, unlike the ROWS frames elsewhere).
    * Day index = FLOOR(epoch seconds / 86400) via the pmod trick:
    * DuckDB's `//` floors while Spark's `div` truncates toward zero,
    * so the bare quotient disagrees on pre-1970 dates (latent with the
    * 1992+ TPC-H fixture, wrong on principle).
    */
  private def windowRange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("day")
      .rangeBetween(-30, 0)
    // materialize once: the RANGE-frame window is the terminal sort's
    // whole final stage, so its sampling pass re-ran the frame scan
    // (see fn_math / graft.Materialize)
    graft.Materialize.once(s"rel_window_range@$d", orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("(CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG)" +
          " - pmod(CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG), 86400))" +
          " div 86400").as("day"),
        col("o_totalprice"))
      .withColumn("spend_30d",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("n_orders_30d", count(lit(1)).over(w)))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  private val windowRangeOracle =
    """SELECT o_custkey, o_orderkey,
      |  floor(epoch(o_orderdate))::BIGINT // 86400 AS day, o_totalprice,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d,
      |  count(*) OVER w AS n_orders_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY floor(epoch(o_orderdate))::BIGINT // 86400
      |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  // ---- exact statistical aggregates -----------------------------------

  /** stddev/var/corr/covar from exact decimal power sums: the decimal
    * aggregation is order-independent (so partition-parallel safe), and
    * the closed-form double arithmetic is written identically in both
    * engines — bit-for-bit reproducible, unlike built-in double
    * accumulators.
    */
  private def aggStats(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity").cast("decimal(18,2)")
    val p = col("l_extendedprice").cast("decimal(18,2)")
    val nD = col("n").cast("double")
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(q).cast("double").as("sx"),
        sum(q * q).cast("double").as("sxx"),
        sum(p).cast("double").as("sp"),
        sum(p * p).cast("double").as("spp"),
        sum(q * p).cast("double").as("sxp"))
      .select(
        col("l_returnflag"), col("n"),
        round((col("sxx") - col("sx") * col("sx") / nD) / (nD - 1), 6).as("var_qty"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / nD) / (nD - 1)), 6).as("stddev_qty"),
        round((col("sxp") - col("sx") * col("sp") / nD) / (nD - 1), 6).as("covar_qp"),
        round((nD * col("sxp") - col("sx") * col("sp")) /
          (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
            sqrt(nD * col("spp") - col("sp") * col("sp"))), 6).as("corr_qp"))
      .orderBy("l_returnflag")
  }

  private val aggStatsOracle =
    """WITH sums AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxp
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS var_qty,
      |  round(sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_qty,
      |  round((sxp - sx * sp / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS covar_qp,
      |  round((CAST(n AS DOUBLE) * sxp - sx * sp) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |     sqrt(CAST(n AS DOUBLE) * spp - sp * sp)), 6) AS corr_qp
      |FROM sums ORDER BY l_returnflag""".stripMargin

  // ---- exact percentiles ----------------------------------------------

  private def percentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("q50"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        min("l_quantity").as("qmin"),
        max("l_quantity").as("qmax"))
      .orderBy("l_returnflag")

  /** KLL/GK-sketch approximate percentiles with a rank-error-bound
    * check — the 100 TB path for quantiles, where the exact
    * `percentile` (full sort per group) is the small-data baseline.
    * `approx_percentile(x, q, acc)` guarantees rank error ≤ N/acc;
    * the check brackets each approximate value between the exact
    * quantiles at q ± 2/acc (double the guarantee, absorbing the
    * continuous-interpolation boundary) — same contract style as the
    * HLL `rel_approx_distinct` bound. The oracle emits the exact
    * quantiles and TRUE: the sketch must land inside its own bound for
    * the row to hash-match.
    */
  private def approxPercentiles(s: SparkSession, d: String): DataFrame = {
    val acc = 100
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr(s"approx_percentile(l_quantity, array(0.5, 0.95), $acc)").as("ap"),
        expr("percentile(l_quantity, 0.5)").as("q50"),
        expr("percentile(l_quantity, 0.95)").as("q95"),
        expr("percentile(l_quantity, 0.48)").as("q50_lo"),
        expr("percentile(l_quantity, 0.52)").as("q50_hi"),
        expr("percentile(l_quantity, 0.93)").as("q95_lo"),
        expr("percentile(l_quantity, 0.97)").as("q95_hi"))
      .select(col("l_returnflag"), col("q50"), col("q95"),
        (element_at(col("ap"), 1) >= col("q50_lo") &&
          element_at(col("ap"), 1) <= col("q50_hi")).as("p50_in_bounds"),
        (element_at(col("ap"), 2) >= col("q95_lo") &&
          element_at(col("ap"), 2) <= col("q95_hi")).as("p95_in_bounds"))
      .orderBy("l_returnflag")
  }

  private val approxPercentilesOracle =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS q50,
      |  quantile_cont(l_quantity, 0.95) AS q95,
      |  TRUE AS p50_in_bounds, TRUE AS p95_in_bounds
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- MERGE / CDC upsert ---------------------------------------------

  /** MERGE INTO semantics (the lakehouse CDC-apply step) as one
    * full-outer join + row-local case logic — the scale-out shape every
    * table format compiles MERGE to. The change batch is derived
    * deterministically from orders (per-customer order count n and
    * exact-decimal total): n = 1 → DELETE, n ≥ 8 → UPDATE acctbal to
    * the total, n ≥ 20 → also INSERT a shifted-key row (new-customer
    * arm; keys offset by 10^6 so they cannot collide with the target).
    * Unmatched U/D changes are ignored, matched rows without a change
    * pass through — the full WHEN MATCHED / NOT MATCHED matrix.
    *
    * Scale shape: one shuffle on the merge key for the outer join (at
    * 100 TB both sides hash-partition on c_custkey; a bucketed target
    * table makes it shuffle-free on the target side), change-batch
    * aggregation is partial→final, everything after the join is
    * row-local. Row-level output (every surviving customer with the
    * action applied) so the oracle checks the MERGE matrix cell by
    * cell, not just the counts.
    */
  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val chg = orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    val cdc = chg.filter(col("n") >= 8)
      .select(col("o_custkey").as("k"), lit("U").as("op"), col("total"))
      .union(chg.filter(col("n") === 1)
        .select(col("o_custkey").as("k"), lit("D").as("op"), col("total")))
      .union(chg.filter(col("n") >= 20)
        .select((col("o_custkey") + 1000000L).as("k"), lit("I").as("op"),
          col("total")))
    customer(s, d).join(cdc, col("c_custkey") === col("k"), "full_outer")
      // WHEN MATCHED AND op='D' THEN DELETE; unmatched U/D are no-ops
      .filter(coalesce(col("op"), lit("")) =!= "D" &&
        (col("c_custkey").isNotNull || col("op") === "I"))
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        coalesce(col("c_mktsegment"), lit("NEW")).as("c_mktsegment"),
        round(when(col("op") === "U", col("total"))
          .otherwise(coalesce(col("c_acctbal"), col("total"))), 2).as("bal"),
        when(col("op") === "U", lit("updated"))
          .when(col("op") === "I", lit("inserted"))
          .otherwise(lit("kept")).as("action"))
      .orderBy("c_custkey")
  }

  private val mergeUpsertOracle =
    """WITH chg AS (
      |  SELECT o_custkey, count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY o_custkey),
      |cdc AS (
      |  SELECT o_custkey AS k, 'U' AS op, total FROM chg WHERE n >= 8
      |  UNION ALL
      |  SELECT o_custkey AS k, 'D' AS op, total FROM chg WHERE n = 1
      |  UNION ALL
      |  SELECT o_custkey + 1000000 AS k, 'I' AS op, total FROM chg WHERE n >= 20)
      |SELECT
      |  coalesce(c_custkey, k) AS c_custkey,
      |  coalesce(c_mktsegment, 'NEW') AS c_mktsegment,
      |  round(CASE WHEN op = 'U' THEN total
      |             ELSE coalesce(c_acctbal, total) END, 2) AS bal,
      |  CASE WHEN op = 'U' THEN 'updated'
      |       WHEN op = 'I' THEN 'inserted'
      |       ELSE 'kept' END AS action
      |FROM customer FULL OUTER JOIN cdc ON c_custkey = k
      |WHERE coalesce(op, '') <> 'D'
      |  AND (c_custkey IS NOT NULL OR op = 'I')
      |ORDER BY c_custkey""".stripMargin

  private val percentilesOracle =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.5) AS q50,
      |  quantile_cont(l_quantity, 0.75) AS q75,
      |  min(l_quantity) AS qmin, max(l_quantity) AS qmax
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- SCD type-2 dimension build --------------------------------------

  /** Slowly-changing-dimension type-2 rebuild: collapse each customer's
    * order-priority history into validity intervals — one row per run of
    * equal priority, `[valid_from, valid_to)` half-open, `valid_to` NULL
    * on the current version. The gaps-and-islands shape every dimension
    * backfill compiles to: lag → change flag → running-sum version id →
    * per-run fold → lead for the closing date.
    *
    * Scale: ONE hash exchange on `o_custkey` serves the whole plan. The
    * version window partitions on the key; the per-run aggregate groups
    * on (key, version) and the closing-date window partitions on the
    * key again — both clusterings are satisfied by the first exchange
    * (partition-by-key colocates every (key, version) group), so
    * Catalyst inserts sorts but no further shuffles. Per-key history is
    * bounded (orders per customer), so no window partition can outgrow
    * a task even when the fact table is 100 TB.
    */
  private def scd2(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    val versioned = orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"), col("o_orderpriority"))
      .withColumn("prev", lag("o_orderpriority", 1).over(wo))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("o_orderpriority"), 1L)
          .otherwise(0L))
      .withColumn("version", sum("chg").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wv = Window.partitionBy("o_custkey").orderBy("version")
    versioned
      .groupBy(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"))
      .agg(min(col("day")).as("valid_from"), count(lit(1)).as("n_orders"))
      .withColumn("valid_to", lead("valid_from", 1).over(wv))
      .withColumn("is_current", col("valid_to").isNull)
      .select("o_custkey", "version", "priority", "valid_from", "valid_to",
        "n_orders", "is_current")
      .orderBy("o_custkey", "version")
  }

  private val scd2Oracle =
    """WITH h AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS day,
      |    o_orderpriority,
      |    lag(o_orderpriority) OVER
      |      (PARTITION BY o_custkey
      |       ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev
      |  FROM orders),
      |v AS (
      |  SELECT *, sum(CASE WHEN prev IS NULL OR prev <> o_orderpriority
      |                     THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey
      |          ROWS UNBOUNDED PRECEDING)::BIGINT AS version
      |  FROM h),
      |runs AS (
      |  SELECT o_custkey, version, o_orderpriority AS priority,
      |    min(day) AS valid_from, count(*)::BIGINT AS n_orders
      |  FROM v GROUP BY 1, 2, 3)
      |SELECT o_custkey, version, priority, valid_from,
      |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version) AS valid_to,
      |  n_orders,
      |  (lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
      |    IS NULL) AS is_current
      |FROM runs ORDER BY o_custkey, version""".stripMargin

  // ---- as-of join ------------------------------------------------------

  /** For every event, the most recent per-day order rollup of the same
    * key at or before the event time. Spark-side: union the two streams,
    * carry order attributes forward with a per-key ordered window (the
    * scalable as-of formulation — one shuffle on the key, no range
    * cross-product); oracle-side: DuckDB's native ASOF LEFT JOIN.
    */
  private def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id").as("k"), col("ts").as("t"),
        col("event_id"))
    // per-(key, day) order rollup → unique asof key, deterministic payload
    val od = orders(s, d)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("t"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("day_total"))
      // at scale: don't carry order-keys that can never match an event
      .join(ev.select("k").distinct(), Seq("k"), "left_semi")
    val tagged = od
      .select(col("k"), col("t"), lit(0).as("is_event"), lit(nulledLong).as("event_id"),
        col("t").as("ord_day"), col("n_orders"), col("day_total"))
      .unionByName(ev.select(col("k"), col("t"), lit(1).as("is_event"), col("event_id"),
        lit(nulledTs).as("ord_day"), lit(nulledLong).as("n_orders"),
        lit(nulledDouble).as("day_total")))
    val w = Window.partitionBy("k")
      .orderBy(col("t"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // materialize once: the carry-forward window + filter is the
    // terminal sort's whole final stage (see fn_math / graft.Materialize)
    graft.Materialize.once(s"rel_asof_join@$d", tagged
      .withColumn("last_ord_day", last(col("ord_day"), ignoreNulls = true).over(w))
      .withColumn("last_n_orders", last(col("n_orders"), ignoreNulls = true).over(w))
      .withColumn("last_day_total", last(col("day_total"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("k").as("user_id"),
        col("t").cast("long").as("ts_s"),
        col("last_ord_day").cast("date").as("last_order_day"),
        col("last_n_orders").as("n_orders"),
        col("last_day_total").as("day_total")))
      .orderBy("event_id")
  }

  // typed NULL literals for the union's padding columns
  private def nulledLong = expr("CAST(NULL AS BIGINT)")
  private def nulledTs = expr("CAST(NULL AS TIMESTAMP)")
  private def nulledDouble = expr("CAST(NULL AS DOUBLE)")

  private val asofOracle =
    """WITH od AS (
      |  SELECT o_custkey AS k, o_orderdate AS t, count(*) AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, floor(epoch(e.ts))::BIGINT AS ts_s,
      |  CAST(od.t AS DATE) AS last_order_day, od.n_orders, od.day_total
      |FROM events e ASOF LEFT JOIN od
      |  ON e.user_id = od.k AND e.ts >= od.t
      |ORDER BY e.event_id""".stripMargin

  // ---- salted (skew-immune) aggregation --------------------------------

  /** Two-stage aggregation: stage 1 fans the hot keys across SALT
    * buckets (shuffle key = (group, salt)), stage 2 merges the partial
    * decimal sums. Result is identical to a direct groupBy — the oracle
    * IS the direct form — while no single reducer ever sees a whole hot
    * key at scale. (Spark's partial aggregation covers uniform load;
    * explicit salting is the pattern for pathological key skew.)
    */
  private def saltedAgg(s: SparkSession, d: String): DataFrame = {
    val SALT = 16
    lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(SALT)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("pq"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("pp"))
      .groupBy("l_returnflag")
      .agg(sum("pn").as("n"),
        sum("pq").cast("double").as("sum_qty"),
        sum("pp").cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val saltedAggOracle =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- custom typed Aggregator (UDAF surface) -------------------------

  /** Quantity-weighted mean price per return flag through the typed
    * `Aggregator` API ([[graft.functions.WeightedMean]]) — exact decimal
    * buffers, so partial aggregation order can't shift the result.
    */
  private def weightedMean(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)"),
        col("l_extendedprice").cast("decimal(18,2)"))
      .as[(String, BigDecimal, BigDecimal)]
      .groupByKey(_._1)
      .agg(graft.functions.WeightedMean.toColumn.name("wavg"))
      .toDF("l_returnflag", "wavg")
      .withColumn("wavg_price", round(col("wavg"), 6))
      .select("l_returnflag", "wavg_price")
      .orderBy("l_returnflag")
  }

  private val weightedMeanOracle =
    """SELECT l_returnflag,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wavg_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- bucketed co-located join ---------------------------------------

  /** Both join sides written bucketBy(join key) with matching bucket
    * counts, then sort-merge-joined WITHOUT a shuffle — the executed
    * plan has no hashpartitioning Exchange on the join path (asserted in
    * BucketedJoinSpec). This is the 100 TB pattern for repeated joins on
    * a stable key: pay the partitioning once at write time, never per
    * query. The merge hint keeps the tiny local fixture from taking the
    * broadcast path that would hide the property being demonstrated.
    */
  /** Bucket count for the demo tables. A SCALE-DEPENDENT knob, not part
    * of the pattern: buckets bound both write parallelism (one task per
    * bucket per partition) and the no-Exchange join's parallelism, so
    * size them to ~shuffle-partition-sized slices of the FACT table —
    * 8 fits the fixture; 100 TB orders wants thousands (e.g. ~128 MB to
    * ~1 GB per bucket file), chosen once at layout time.
    */
  private val BUCKETS = 8

  /** Write both bucketed tables once per (session, sfDir) — the one-time
    * layout cost of the bucketing pattern. Memoized in the session store
    * so repeated bucketedJoin calls (bench sweeps, spec + query in one
    * JVM) time the JOIN, not the table rewrite that round 3's bench
    * conflated into it. The value is just the two table names; the
    * store's release drops the key, which holds the session.
    */
  def ensureBucketedTables(s: SparkSession, d: String): (String, String) =
    graft.Materialize.memo(s, d, "rel.bucketed_tables") {
      val suffix = graft.Fs.pathTag(d)
      val (ot, ct) = (s"graft_orders_b_$suffix", s"graft_cust_b_$suffix")
      orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(BUCKETS, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable(ot)
      customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").bucketBy(BUCKETS, "c_custkey").sortBy("c_custkey")
        .format("parquet").saveAsTable(ct)
      (ot, ct)
    }

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (ot, ct) = ensureBucketedTables(s, d)
    s.table(ot).hint("merge")
      .join(s.table(ct).hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spent"))
      .orderBy("c_custkey")
  }

  private val bucketedJoinOracle =
    """SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin

  // ---- subqueries (spark.sql entry point) -----------------------------

  /** Scalar + IN subqueries through the SQL entry point (SURVEY §3.4
    * lists `spark.sql(...)` as the second query surface; Catalyst
    * rewrites the IN to a left-semi join and the scalar to a broadcast).
    * The scalar threshold uses max (exact) — an avg threshold would be
    * float-summation-order-dependent across engines.
    */
  private def subqueries(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders_v")
    customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders_v) / 2
        |  AND o_custkey IN (SELECT c_custkey FROM customer_v
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)
  }

  private val subqueriesOracle =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) / 2
      |  AND o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q3 (shipping priority) through the SQL entry point — the
    * classic 3-way join + filtered agg + top-k. Catalyst broadcasts the
    * filtered customer side under AQE and the LIMIT plans as
    * TakeOrderedAndProject, so no full sort of the aggregate ships.
    * Revenue is an exact DECIMAL sum cast to double in both engines —
    * bit-identical, safe to ORDER BY.
    */
  private def sqlTpchQ3(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("customer_v")
    orders(s, d).createOrReplaceTempView("orders_v")
    lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
        |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
        |JOIN lineitem_v ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
  }

  private val sqlTpchQ3Oracle =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
      |    AS revenue,
      |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Range (band) join: orders bucketed into price bands by a non-equi
    * `lo <= v < hi` condition against a tiny literal dimension. The dim
    * is broadcast, so the plan is a BroadcastNestedLoopJoin — each order
    * row tests 5 band rows locally and NOTHING shuffles; the shape that
    * stays flat at 100 TB (band count, not row count, bounds the work
    * per row).
    */
  private def rangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (1L, 0.0, 100000.0), (2L, 100000.0, 200000.0), (3L, 200000.0, 300000.0),
      (4L, 300000.0, 400000.0), (5L, 400000.0, 1e9))
      .toDF("band_id", "lo", "hi")
    orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
      .orderBy("band_id")
  }

  private val rangeJoinOracle =
    """SELECT band_id, count(*) AS n_orders,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM orders
      |JOIN (VALUES (1::BIGINT, 0.0, 100000.0), (2, 100000.0, 200000.0),
      |             (3, 200000.0, 300000.0), (4, 300000.0, 400000.0),
      |             (5, 400000.0, 1e9)) AS bands(band_id, lo, hi)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  /** Correlated EXISTS / NOT EXISTS: customers with at least one big
    * order and no failed one. Catalyst decorrelates to a left-semi and
    * a left-anti join on c_custkey — both plain hash shuffles on the
    * join key at scale, no per-row re-execution of the subquery.
    */
  private def existsCorr(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("customer_v")
    orders(s, d).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders_v o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  private val existsCorrOracle =
    """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Column profiler: the data-quality pass a pipeline runs before
    * training — per column: row count, nulls, distinct count, numeric
    * min/max (string columns profile value length). One row per column
    * via unioned single-row aggregates; each leg is an independent
    * partial+final agg over a single-column scan, so the profile of a
    * 100 TB table reads each column exactly once and ships one row.
    */
  private def profile(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    def num(c: String) = li.select(
      lit(c).as("col_name"), count(lit(1)).as("n"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      min(col(c)).cast("double").as("min_v"),
      max(col(c)).cast("double").as("max_v"))
    def str(c: String) = li.select(
      lit(c).as("col_name"), count(lit(1)).as("n"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      min(length(col(c))).cast("double").as("min_v"),
      max(length(col(c))).cast("double").as("max_v"))
    num("l_quantity").union(num("l_extendedprice")).union(num("l_discount"))
      .union(str("l_returnflag")).union(str("l_linestatus"))
      .orderBy("col_name")
  }

  private val profileOracle = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  min($c)::DOUBLE AS min_v, max($c)::DOUBLE AS max_v
         |FROM lineitem""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  min(length($c))::DOUBLE AS min_v, max(length($c))::DOUBLE AS max_v
         |FROM lineitem""".stripMargin
    Seq(num("l_quantity"), num("l_extendedprice"), num("l_discount"),
      str("l_returnflag"), str("l_linestatus"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---- runtime Bloom-filter join pruning --------------------------------

  /** Shuffle join with Catalyst's runtime Bloom-filter pruning
    * (InjectRuntimeFilter): the selective filter on the orders side
    * builds a Bloom filter over the surviving join keys (a scalar
    * subquery of BloomFilterAggregate), and `might_contain` is injected
    * into the LINEITEM scan — so fact rows that cannot join are dropped
    * at the scan, before the shuffle. At 100 TB this is the single
    * biggest lever on selective fact⋈fact joins: the exchange carries
    * ~1/5 of lineitem (the filter's selectivity) instead of all of it,
    * for one extra pass over the small side. Results are exact — the
    * Bloom filter only PRE-prunes; the join predicate still applies.
    *
    * The instance runs on a child session because the injection
    * thresholds are sized for clusters (app-side scan ≥ 10 GB), not
    * fixtures: the child lowers the app-side threshold to 0 and disables
    * broadcast so the plan is the shuffle join the rule targets — the
    * parent session's optimizer conf (and every other query's pinned
    * plan) stays untouched. RuntimeFilterSpec ("rel_bloom_join contract
    * query carries…") pins the `might_contain` injection structurally.
    */
  private def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val urgent = orders(s2, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    lineitem(s2, d)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  private def bloomJoinOracle: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n,
      |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_join_full"     -> joinFull _,
    "rel_join_cross"    -> joinCross _,
    "rel_grouping_sets" -> groupingSetsQ _,
    "rel_window_frames" -> windowFrames _,
    "rel_window_range"  -> windowRange _,
    "rel_agg_stats"     -> aggStats _,
    "rel_percentile"    -> percentiles _,
    "rel_approx_percentile" -> approxPercentiles _,
    "rel_merge_upsert"  -> mergeUpsert _,
    "rel_scd2"          -> scd2 _,
    "rel_asof_join"     -> asofJoin _,
    "rel_salted_agg"    -> saltedAgg _,
    "rel_bucketed_join" -> bucketedJoin _,
    "rel_subquery"      -> subqueries _,
    "rel_agg_weighted"  -> weightedMean _,
    "rel_sql_tpch_q3"   -> sqlTpchQ3 _,
    "rel_range_join"    -> rangeJoin _,
    "rel_exists_corr"   -> existsCorr _,
    "rel_profile"       -> profile _,
    "rel_bloom_join"    -> bloomJoin _,
  )

  val oracles: Map[String, String] = Map(
    "rel_agg_weighted"  -> weightedMeanOracle,
    "rel_join_full"     -> joinFullOracle,
    "rel_join_cross"    -> joinCrossOracle,
    "rel_grouping_sets" -> groupingSetsOracle,
    "rel_window_frames" -> windowFramesOracle,
    "rel_window_range"  -> windowRangeOracle,
    "rel_agg_stats"     -> aggStatsOracle,
    "rel_percentile"    -> percentilesOracle,
    "rel_approx_percentile" -> approxPercentilesOracle,
    "rel_merge_upsert"  -> mergeUpsertOracle,
    "rel_scd2"          -> scd2Oracle,
    "rel_asof_join"     -> asofOracle,
    "rel_salted_agg"    -> saltedAggOracle,
    "rel_bucketed_join" -> bucketedJoinOracle,
    "rel_subquery"      -> subqueriesOracle,
    "rel_sql_tpch_q3"   -> sqlTpchQ3Oracle,
    "rel_range_join"    -> rangeJoinOracle,
    "rel_exists_corr"   -> existsCorrOracle,
    "rel_profile"       -> profileOracle,
    "rel_bloom_join"    -> bloomJoinOracle,
  )
}
