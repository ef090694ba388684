package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with session confs set, restoring each (or unsetting
    * it) afterwards.
    */
  def withConfs[T](pairs: (String, String)*)(body: => T): T =
    Tuning.withConfs(spark, pairs: _*)(body)
}

object SparkSpec {
  // 4 explicitly, not Session.cpus: the suite runs with SPARK_GRAFT_CPUS
  // set to the host's cores, and PLAN_DIGEST.json is pinned at 4
  // shuffle partitions
  lazy val session: SparkSession = Session.local("4")
}
