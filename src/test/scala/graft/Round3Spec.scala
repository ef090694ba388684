package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-3 operators (beyond the all-queries smoke
  * and the DuckDB oracle hash-compare).
  */
class Round3Spec extends SparkSpec {

  test("connected components match union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // union-find reference with union-by-min: each root stays the
      // minimum member of its set, so find(i) IS the expected component
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = operators.ConnectedComponents.labels(
          (0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
    }
  }

  test("event_funnel steps are ordered (non-strict at output granularity)") {
    // the operator enforces STRICT µs ordering internally (ts > view_ts),
    // but the output carries seconds-cast steps, where distinct-µs events
    // can legitimately collide — so only non-strict order is observable
    // here; strictness itself is pinned by the DuckDB oracle comparison
    val f = operators.ScalarFns.queries("event_funnel")(spark, sfDir)
    assert(f.filter(col("view_s") > col("click_s") ||
      col("click_s") > col("purchase_s")).count() == 0)
  }

  test("rel_range_join plans as a broadcast nested-loop join") {
    val df = operators.RelationalExt.queries("rel_range_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the tiny band dim to broadcast:\n$plan")
    // the fact side must not shuffle for the join itself
    val joinIdx = plan.indexOf("BroadcastNestedLoopJoin")
    assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"band join shuffles the fact side:\n$plan")
  }

  test("rel_range_join bands partition all orders") {
    val bands = operators.RelationalExt.queries("rel_range_join")(spark, sfDir)
    val total = bands.agg(sum("n_orders")).head().getLong(0)
    assert(total == Tables.orders(spark, sfDir).count())
  }

  test("typed pipeline matches the untyped equivalent") {
    import spark.implicits._
    val typed = operators.Typed.queries("ds_typed_pipeline")(spark, sfDir)
      .select("l_returnflag", "n_items", "total_qty")
      .as[(String, Long, Double)].collect().toSet
    val untyped = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") >= 10)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("total_qty"))
      .as[(String, Long, Double)].collect().toSet
    assert(typed == untyped)
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
}
