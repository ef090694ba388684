package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning — the 100 TB shuffle-reduction
  * mechanism for big⋈big joins with a selective build side: Catalyst
  * injects a bloom filter aggregated from the filtered (creation) side
  * as a `bloom_filter_might_contain` predicate on the probe side's
  * SCAN, so fact rows that cannot join are dropped before the shuffle
  * instead of after it. At cluster scale this turns a full-fact-table
  * shuffle into a shuffle of the ~matching slice.
  *
  * The fixture tables sit far below the default size thresholds
  * (probe side must look >= 10 GB), so the spec lowers the injection
  * thresholds to fixture scale — proving the MECHANISM and pinning
  * that the feature stays available; production keeps the defaults.
  */
class RuntimeFilterSpec extends SparkSpec {

  private def factJoin() = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
  }

  test("a selective build side injects a bloom filter on the fact scan, " +
      "result unchanged") {
    val expected = factJoin().collect().toSeq // defaults: no injection at fixture size
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // broadcast would bypass the shuffle the bloom filter exists to
      // shrink — force the shuffle-join shape the mechanism targets
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = factJoin()
      val optimized = df.queryExecution.optimizedPlan.toString
      // the injected predicate prints as
      //   might_contain(scalar-subquery [...], xxhash64(l_orderkey, 42))
      // over a bloom_filter_agg build — assert both halves so a future
      // rename of either side fails loudly
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"),
        s"no bloom runtime filter injected:\n$optimized")
      assert(df.collect().toSeq == expected,
        "bloom-filtered plan changed the result")
    }
  }

  test("rel_bloom_join contract query carries the injected bloom filter " +
      "on its own child session, parent conf untouched") {
    val before = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val df = operators.RelationalExt.queries("rel_bloom_join")(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain") &&
      optimized.contains("bloom_filter_agg"),
      s"contract query lost the bloom runtime filter:\n$optimized")
    assert(df.count() > 0)
    // the contract query must not leak its fixture-scale thresholds into
    // the caller's session (it runs on newSession precisely for this)
    assert(spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      == before, "rel_bloom_join leaked conf into the parent session")
  }
}
