package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed `Dataset[T]` surface: the same relational capabilities expressed
  * through case-class encoders — `as[T]`, typed `filter`/`map`,
  * `joinWith`, `groupByKey`/`mapGroups`. This is the compile-time-typed
  * face of the reference's `KeyValue<K,V>` model (`include/key_value.h:
  * 8-21`): where the reference fixes one `<K,V>` schema per compiled
  * binary (`mr/word_count.h:14`), `Encoder`s give the same static typing
  * per query without losing Tungsten's binary row format.
  *
  * Scale notes: typed lambdas (`filter(f)`, `map(f)`) deserialize rows to
  * JVM objects, so they cost more than Column expressions and break
  * predicate pushdown past the lambda — acceptable in the reduce-side
  * fold (`mapGroups`, where user logic is the point), avoided before the
  * scan by `select`-ing the narrow column set FIRST so the parquet reader
  * still prunes columns. Aggregates here avoid order-dependent double
  * summation: quantities are integral doubles (exact under reordered
  * addition) and money folds go through java.math.BigDecimal (exact),
  * matching the oracle's DECIMAL semantics.
  */
object Typed extends QueryModule {

  import Tables._

  final case class Li(l_orderkey: Long, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_returnflag: String)
  final case class Ord(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
  final case class Cust(c_custkey: Long, c_mktsegment: String)

  /** Typed pipeline: filter → map → groupByKey → mapGroups (the exact
    * MR reduce contract — the fold sees every value of the key).
    * Revenue is folded as BigDecimal(6) like the untyped queries cast
    * to DECIMAL(18,6): exact, so partition order can't change the sum —
    * and it is EMITTED as exact integer micros (×10^6 of a scale-6
    * decimal is integral: no rounding step, no tie semantics). The
    * 60M-row rehearsal showed why a double column can't carry it:
    * DuckDB's DECIMAL→DOUBLE cast is one ulp off at 8e11 magnitude
    * (824337001180.910000 casts to …180.9099; correct rounding, which
    * BigDecimal.doubleValue does, gives …180.91), so any float emission
    * compares the two engines' cast quirks, not the data.
    *
    * Range bound: micros emission caps per-group revenue at
    * Long.MaxValue/10^6 ≈ 9.2e12. sf10 per-flag revenue is ~8e11
    * (~10× headroom), so the representation holds through the measured
    * decades but would overflow around an sf100–sf300 rehearsal — and
    * it fails LOUDLY on both sides (`longValueExact` throws
    * ArithmeticException here; the oracle's `CAST … AS BIGINT` likewise
    * errors in DuckDB), never silently wraps. An sf100+ rehearsal of
    * this query needs a wider emission (DECIMAL string or (hi, lo)
    * split) in BOTH engines; until one is planned, the exact-integer
    * contract stays as is.
    */
  /** The exact-integer micros emission and its documented bound,
    * factored out so Round12Spec ("revenueMicros holds exactly…") can pin
    * the failure mode: per-group revenue above [[REVENUE_MICROS_MAX]]
    * (= Long.MaxValue / 10^6, ≈ 9.2e12 — an sf100–sf300 per-flag revenue decade) must throw
    * ArithmeticException LOUDLY, never wrap. The oracle's
    * `CAST … AS BIGINT` errors at the same magnitude in DuckDB, so the
    * two engines fail the same decade together.
    */
  private[graft] val REVENUE_MICROS_MAX: java.math.BigDecimal =
    new java.math.BigDecimal(Long.MaxValue).movePointLeft(6)
      .setScale(6, java.math.RoundingMode.FLOOR)

  private[graft] def revenueMicros(rev: java.math.BigDecimal): Long =
    rev.movePointRight(6).longValueExact()

  private def typedPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag")
      .as[Li]
      .filter(li => li.l_quantity >= 10.0)
      .map(li => (li.l_returnflag,
        li.l_quantity,
        java.math.BigDecimal.valueOf(li.l_extendedprice * (1 - li.l_discount))
          .setScale(6, java.math.RoundingMode.HALF_UP)))
      .groupByKey(_._1)
      .mapGroups { (flag, rows) =>
        var n = 0L
        var qty = 0.0
        var rev = java.math.BigDecimal.ZERO
        rows.foreach { case (_, q, r) => n += 1; qty += q; rev = rev.add(r) }
        (flag, n, qty, revenueMicros(rev))
      }
      .toDF("l_returnflag", "n_items", "total_qty", "total_revenue_micros")
      .orderBy("l_returnflag")
  }

  private val typedPipelineOracle =
    """SELECT l_returnflag, count(*) AS n_items,
      |  sum(l_quantity) AS total_qty,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |    AS total_revenue_micros
      |FROM lineitem WHERE l_quantity >= 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** [[typedPipeline]] with the WIDE revenue emission — the exact
    * DECIMAL rendered as a canonical scale-6 string, the representation
    * that survives the sf100–sf300 decade where the micros Long
    * saturates ([[REVENUE_MICROS_MAX]]; Round12Spec pins that failure
    * mode loudly). String, not DOUBLE, because the 60M-row rehearsal
    * showed DuckDB's DECIMAL→DOUBLE cast one ulp off at 8e11 magnitude
    * (the [[typedPipeline]] Scaladoc); and not a DECIMAL column,
    * because the engines' natural sum types differ (DuckDB DECIMAL
    * (38,6) vs the encoder's (38,18)) and the driver compares schemas
    * before values. BigDecimal scale-6 `toPlainString` and DuckDB's
    * `DECIMAL(38,6)::VARCHAR` render identically by construction —
    * fixed 6 fractional digits, no exponent, no sign for positives —
    * at ANY magnitude a 38-digit decimal can hold: the headroom is
    * ~10^31 dollars, which no corpus reaches.
    */
  private def typedPipelineWide(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag")
      .as[Li]
      .filter(li => li.l_quantity >= 10.0)
      .map(li => (li.l_returnflag,
        java.math.BigDecimal.valueOf(li.l_extendedprice * (1 - li.l_discount))
          .setScale(6, java.math.RoundingMode.HALF_UP)))
      .groupByKey(_._1)
      .mapGroups { (flag, rows) =>
        var rev = java.math.BigDecimal.ZERO
        rows.foreach { case (_, r) => rev = rev.add(r) }
        (flag, rev.setScale(6).toPlainString)
      }
      .toDF("l_returnflag", "total_revenue")
      .orderBy("l_returnflag")
  }

  private val typedPipelineWideOracle =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS VARCHAR)
      |    AS total_revenue
      |FROM lineitem WHERE l_quantity >= 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Typed join: `joinWith` yields a Dataset of pairs (no column-name
    * flattening), folded per market segment. Count and max are
    * order-insensitive, so no decimal detour is needed.
    */
  private def typedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ords = orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice").as[Ord]
    val custs = customer(s, d)
      .select("c_custkey", "c_mktsegment").as[Cust]
    ords
      .joinWith(custs, ords("o_custkey") === custs("c_custkey"))
      .map { case (o, c) => (c.c_mktsegment, o.o_totalprice) }
      .groupByKey(_._1)
      .mapGroups { (seg, rows) =>
        var n = 0L
        var mx = Double.MinValue
        rows.foreach { case (_, p) => n += 1; if (p > mx) mx = p }
        (seg, n, mx)
      }
      .toDF("c_mktsegment", "n_orders", "max_price")
      .orderBy("c_mktsegment")
  }

  private val typedJoinOracle =
    """SELECT c_mktsegment, count(*) AS n_orders, max(o_totalprice) AS max_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ds_typed_pipeline" -> typedPipeline _,
    "ds_typed_pipeline_wide" -> typedPipelineWide _,
    "ds_typed_join"     -> typedJoin _,
  )

  val oracles: Map[String, String] = Map(
    "ds_typed_pipeline" -> typedPipelineOracle,
    "ds_typed_pipeline_wide" -> typedPipelineWideOracle,
    "ds_typed_join"     -> typedJoinOracle,
  )
}
