package graft

import org.apache.spark.sql.functions._

/** Planted-skew proof of the SCALE.md claim that AQE's skew-join
  * handling — not hand-tuning — is what absorbs a hot key at cluster
  * scale: a deliberately skewed join input, thresholds scaled down to
  * fixture size, and the EXECUTED adaptive plan asserted to contain a
  * skew-split sort-merge join, the same way the bucketed/broadcast
  * claims are already plan-asserted in PlanShapeSpec.
  */
class SkewAqeSpec extends SparkSpec {

  test("AQE splits the planted hot key's partition in a sort-merge join " +
      "(skew=true in the executed plan) and the result is exact") {
    // one hot key carrying 60k rows vs 50 keys of 100 rows — at 8
    // shuffle partitions the hot partition is ~600× the median, far
    // over factor=2 × 64KB with ~90-byte rows
    val hot = spark.range(60000).select(lit(0L).as("k"), col("id").as("v"))
    val rest = spark.range(5000).select((col("id") % 50 + 1).as("k"), col("id").as("v"))
    val facts = hot.unionAll(rest)
      .withColumn("pad", lpad(col("v").cast("string"), 64, "x"))
    val dims = spark.range(51).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      // the dim side must not broadcast or there is no shuffle to skew
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8") {
      val joined = facts.join(dims, "k").select("k", "v", "name")
      val rows = joined.collect()
      assert(rows.length == 65000, "inner join must preserve every fact row")
      val byKey = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      assert(byKey(0L) == 60000 && byKey(1L) == 100 && byKey.size == 51,
        "per-key counts must survive the skew split exactly")
      // the executed adaptive plan — isFinalPlan=true after collect —
      // must show the SMJ node flagged skew=true (SortMergeJoinExec
      // advertises the split in its nodeName)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"),
        s"expected a finalized adaptive plan, got:\n$finalPlan")
      assert(finalPlan.contains("skew=true"),
        s"AQE did not skew-split the hot partition — thresholds no longer " +
          s"bite or skew handling regressed:\n$finalPlan")
    }
  }

  test("the same join WITHOUT AQE has no skew split (the flag is doing " +
      "the work, not the data shape)") {
    val hot = spark.range(60000).select(lit(0L).as("k"), col("id").as("v"))
    val facts = hot.withColumn("pad", lpad(col("v").cast("string"), 64, "x"))
    val dims = spark.range(51).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8") {
      val joined = facts.join(dims, "k").select("k", "v", "name")
      assert(joined.collect().length == 60000)
      assert(!joined.queryExecution.executedPlan.toString.contains("skew=true"))
    }
  }
}
