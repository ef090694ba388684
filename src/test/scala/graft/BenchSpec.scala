package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.Listeners
import operators.Sources

/** The measurement harness, `graft.Bench`: its detail pointer, its
  * environment block and steal share, its one JSON string escaper, and
  * the stream-state record — each replay named after its contract query
  * (`graft_<query>_<seq>`, [[Sources.streamQueryOf]] the inverse), the
  * listener keeping each query's peak state by that name alone.
  *
  * The attribution cases were live bugs: a null progress.name (a
  * file-sink replay started without a queryName) threw in the listener
  * and silently dropped that query's metrics, and prefix matching
  * without longest-wins would file every
  * `graft_stream_tumbling_append_N` progress under `stream_tumbling`.
  */
class BenchSpec extends SparkSpec {

  test("bench detail pointer: quoted path on success, null on an " +
      "unwritable dir — compact line parses either way") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val payload = """{"metric":"total","value":1.0}"""
    // success: ref is a quoted path whose file holds the payload
    val okDir = TestScratch.dir("graft_detail_ok_").toFile
    try {
      val ref = Bench.writeDetailRef(okDir, payload)
      assert(ref.startsWith("\"") && ref.endsWith("\""))
      val path = ref.substring(1, ref.length - 1)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path)) == payload)
      assert(!om.readTree(s"""{"detail":$ref}""").get("detail").isNull)
    } finally Fs.rmTree(okDir)
    // failure: a regular FILE as the target dir — mkdirs fails quietly,
    // the write throws IOException, the ref degrades to literal null
    // and the composed line still parses (the round-5 guard this pins)
    val asFile = java.nio.file.Files
      .createTempFile("graft_detail_block_", "").toFile
    try {
      val ref = Bench.writeDetailRef(asFile, payload)
      assert(ref == "null")
      assert(om.readTree(s"""{"detail":$ref}""").get("detail").isNull)
    } finally Fs.rmTree(asFile)
  }

  test("bench env telemetry block is well-formed JSON with the resolved " +
      "checkpoint root") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val node = om.readTree(Bench.envJson("32", 1.234, Double.NaN))
    assert(node.get("ckpt_root").asText.nonEmpty)
    assert(node.get("shm_writable").isBoolean)
    assert(node.get("load_start").asDouble == 1.23)
    // unavailable load must degrade to the -1 sentinel, not NaN (NaN is
    // not valid JSON and would void the whole terminal line)
    assert(node.get("load_end").asInt == -1)
    assert(node.get("cpus").asInt == 32)
    assert(node.get("host_cpus").asInt > 0)
    assert(node.get("heap_gb").asDouble > 0)
    // contract guards: a non-numeric cpu count and a hostile scratch
    // path must degrade inside the JSON, never void the terminal line
    val bad = om.readTree(Bench.envJson("not-a-number", -1.0, 0.5))
    assert(bad.get("cpus").asInt == -1)
    assert(bad.get("load_start").asInt == -1)
    // steal defaults to the -1 sentinel; a measured interval reports %
    assert(bad.get("steal_pct").asInt == -1)
    val withSteal = om.readTree(Bench.envJson("4", 0.1, 0.1, 12.345))
    assert(withSteal.get("steal_pct").asDouble == 12.35)
  }

  test("steal computation: interval share from jiffies snapshots, -1 " +
      "sentinel on missing or non-advancing counters") {
    assert(Bench.stealPct(Some((1000L, 10L)), Some((2000L, 110L))) == 10.0)
    assert(Bench.stealPct(Some((1000L, 10L)), Some((1000L, 10L))) == -1.0)
    assert(Bench.stealPct(None, Some((2000L, 10L))) == -1.0)
    assert(Bench.stealPct(Some((1000L, 10L)), None) == -1.0)
  }

  test("parseCpuLine sums only user..steal, excluding guest/guest_nice") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val line = "cpu  100 10 50 800 5 1 2 32 400 40"
    // guest(400)/guest_nice(40) are already inside user/nice per the
    // kernel's accounting; a naive full sum would report steal 32/1440
    // instead of 32/1000
    assert(Bench.parseCpuLine(line).contains((1000L, 32L)))
    // steal still required present: a 7-field pre-2.6.11 line is refused
    assert(Bench.parseCpuLine("cpu 1 2 3 4 5 6 7").isEmpty)
    // non-cpu lines are refused
    assert(Bench.parseCpuLine("intr 12345").isEmpty)
  }

  test("bench env records the forced state-store provider, null when none") {
    val om = new ObjectMapper
    assert(om.readTree(Bench.envJson("4", 0.1, 0.1)).get("state_provider").isNull)
    assert(om.readTree(Bench.envJson("4", 0.1, 0.1, provider = Some("rocksdb")))
      .get("state_provider").asText == "rocksdb")
  }

  test("one JSON string escaper: quote, backslash, newline, tab, U+0001") {
    val raw = "a\"b\\c\nd\te\u0001f"
    val lit = Verify.jsonString(raw)
    assert(lit == "\"a\\\"b\\\\c\\nd\\te\\u0001f\"")
    assert(new ObjectMapper().readTree(lit).asText == raw)
  }

  test("queryName maps to its contract query") {
    assert(Sources.streamQueryOf("graft_stream_dedup_3").contains("stream_dedup"))
  }

  test("longest prefix wins for nested names") {
    assert(Sources.streamQueryOf("graft_stream_tumbling_append_7")
      .contains("stream_tumbling_append"))
    assert(Sources.streamQueryOf("graft_stream_tumbling_7")
      .contains("stream_tumbling"))
    assert(Sources.streamQueryOf("graft_stream_sliding_append_2")
      .contains("stream_sliding_append"))
  }

  test("null and foreign names attribute to nothing") {
    assert(Sources.streamQueryOf(null).isEmpty)
    assert(Sources.streamQueryOf("someone_elses_query").isEmpty)
    // a bare prefix without the trailing seq separator must not match
    assert(Sources.streamQueryOf("graft_stream_dedup").isEmpty)
  }

  test("state_rows reads null under RocksDB, which tracks no row total") {
    // the input is the custom metric keys the state operators reported,
    // so a policy run (no provider forced) reads right too
    assert(Bench.stateRowsJson(
      Set("rocksdbSstFileSize", "rocksdbPinnedBlocksMemoryUsage"), 0L) == "null")
    assert(Bench.stateRowsJson(Set("rocksdbCommitWriteBatchLatency"), 0L) == "null")
    assert(Bench.stateRowsJson(Set("loadedMapCacheHitCount"), 75L) == "75")
  }

  test("StatePeak.max is a componentwise peak plus event count") {
    import Bench.StatePeak
    val a = StatePeak(10, 100, 5, 1, 1)
    val b = StatePeak(7, 200, 9, 0, 1)
    assert(a.max(b) == StatePeak(10, 200, 9, 1, 2))
  }

  test("the Bench listener attributes every replay's state peak to its " +
      "query by name, the file-sink replays included") {
    // stream_session_append and stream_tumbling_append once started
    // their streams with no name, and stream_corpus_gate's sink name
    // matched no query: none of the three could be attributed by name
    val qs = Seq("stream_session_append", "stream_tumbling_append",
      "stream_corpus_gate")
    val state = new Bench.StatePeaks
    spark.streams.addListener(state)
    try {
      qs.foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
      Listeners.drain(spark.sparkContext)
    } finally spark.streams.removeListener(state)
    val peaks = state.peaks.asScala
    qs.foreach { q =>
      assert(peaks.get(q).exists(_.progressCount > 0),
        s"no state peak attributed to $q; attributed: ${peaks.keys}")
    }
    // session state is RocksDB by policy: no row total to report
    val session = peaks("stream_session_append")
    assert(Bench.stateRowsJson(session.metricKeys, session.rowsTotal) == "null")
    assert(peaks("stream_corpus_gate").rowsTotal > 0)
    // and the release drops the memory sink's view by the same name
    def sinkViews = spark.catalog.listTables().collect().map(_.name)
      .filter(Sources.streamQueryOf(_).contains("stream_corpus_gate"))
    assert(sinkViews.nonEmpty)
    Sources.releaseStreams(spark)
    assert(sinkViews.isEmpty, "releaseStreams left a sink view")
  }
}
