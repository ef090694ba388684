package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Input frames for the properties that claim a codegen'd batch result.
  * A frame built from a local collection is a local relation, and
  * Spark's `ConvertToLocalRelation` folds a projection over it on the
  * driver by interpreted eval, so no generated code runs. Over an
  * RDD-backed frame the projection runs in whole-stage codegen.
  */
object CodegenFrames {

  private lazy val spark = SparkSpec.session

  /** `rows` under `schema`, as an RDD of two slices. */
  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** One `(id, s)` row per text, `id` its index. */
  def texts(ts: Seq[String]): DataFrame =
    frame(ts.zipWithIndex.map { case (t, i) => Row(i, t) },
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("s", StringType))))

  /** Collect `df` after asserting that its executed plan runs in
    * whole-stage codegen. The interpreted fallback is off while it runs,
    * so generated code that does not compile fails the caller instead of
    * silently running interpreted.
    */
  def collect(df: DataFrame): Array[Row] = {
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"the projection must run in whole-stage codegen:\n$plan")
    Tuning.withConfs(spark, "spark.sql.codegen.fallback" -> "false")(
      df.collect())
  }
}
