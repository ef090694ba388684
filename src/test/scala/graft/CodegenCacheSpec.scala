package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.GraftExtensions
import org.apache.spark.sql.internal.StaticSQLConf

/** `GraftExtensions` sizes Spark's JVM-wide generated-class cache to the
  * engine's working set, so a query run again reuses its compiled
  * classes instead of recompiling the ones a 100-entry cache evicted.
  */
class CodegenCacheSpec extends SparkSpec {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** The benchmark's `interactive_mix` panel. */
  private val panel = Seq(
    "rel_join_inner", "rel_sql_tpch_q3", "rel_window_rank", "rel_topk",
    "rel_bucketed_join", "event_session", "fn_math", "fn_json", "mr_join",
    "inverted_index")

  /** Classes Janino compiles while `body` runs, on any thread of the JVM. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def round(): Unit = panel.foreach { q =>
    SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
  }

  test("a second round of the interactive panel compiles no class") {
    val first = compiles(round())
    val second = compiles(round())
    assert(second == 0, s"the second round recompiled $second of the first round's $first classes")
  }

  test("the session's codegen cache takes the engine's size") {
    assert(spark.conf.get(key) == GraftExtensions.CodegenCacheMaxEntries.toString)
  }

  test("an explicit setting wins over the engine's default") {
    val old = Option(System.getProperty(key))
    try {
      System.setProperty(key, "123")
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(System.getProperty(key) == "123")
    } finally old match {
      case Some(v) => System.setProperty(key, v)
      case None    => System.clearProperty(key)
    }
  }
}
