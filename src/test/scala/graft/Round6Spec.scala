package graft

/** Round-6 consolidation invariants: the ConnectedComponents reliable-
  * checkpoint hook, the Bench detail-pointer failure path, and the
  * bench environment telemetry block.
  */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("connected components: reliable-checkpoint mode yields identical " +
      "labels and actually writes checkpoint files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_ckpt_").toString
    val n = 16L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val expected = (0L until n).map(i => i -> 0L).toMap
    spark.conf.set(Materialize.CheckpointDirKey, dir)
    try {
      val got = operators.ConnectedComponents.labels(nodes, edges, maxIters = 10)
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
      // rdd-N subdirs under the configured root prove the rounds went
      // through reliable checkpoint(), not the localCheckpoint default
      def rddDirs(f: java.io.File): Int =
        if (f.getName.startsWith("rdd-")) 1
        else Option(f.listFiles).map(_.map(rddDirs).sum).getOrElse(0)
      assert(rddDirs(new java.io.File(dir)) > 0,
        s"no rdd-N checkpoint dirs under $dir — reliable mode did not engage")
    } finally {
      spark.conf.unset(Materialize.CheckpointDirKey)
      Fs.rmTree(new java.io.File(dir))
    }
  }

  test("connected components: a mid-session checkpoint-dir change " +
      "re-points the global checkpoint root") {
    // setCheckpointDir is process-global and sticky; the hook must
    // follow a CONFIG change to a new root rather than silently keep
    // writing into the previously configured one
    def rddDirs(f: java.io.File): Int =
      if (f.getName.startsWith("rdd-")) 1
      else Option(f.listFiles).map(_.map(rddDirs).sum).getOrElse(0)
    val nodes = (0L until 8L).toDF("id")
    val edges = (0L until 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val dirs = Seq.fill(2)(java.nio.file.Files
      .createTempDirectory("graft_cc_ckpt_move_").toFile)
    try {
      dirs.foreach { d =>
        spark.conf.set(Materialize.CheckpointDirKey,
          d.toString)
        val got = operators.ConnectedComponents
          .labels(nodes, edges, maxIters = 10)
          .as[(Long, Long)].collect().toMap
        assert(got == (0L until 8L).map(i => i -> 0L).toMap)
        assert(rddDirs(d) > 0, s"no checkpoints under newly configured $d")
      }
    } finally {
      spark.conf.unset(Materialize.CheckpointDirKey)
      dirs.foreach(Fs.rmTree)
    }
  }

  test("graph_pagerank: reliable-checkpoint mode yields the default " +
      "mode's rows and writes checkpoint files") {
    // pagerank's rounds go through the same round scope as CC's, so the
    // key governs them too
    def ranks() = SparkEntry.queries("graph_pagerank")(spark, sfDir)
      .collect().toSeq
    def rddDirs(f: java.io.File): Int =
      if (f.getName.startsWith("rdd-")) 1
      else Option(f.listFiles).map(_.map(rddDirs).sum).getOrElse(0)
    val expected = ranks()
    assert(expected.nonEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_ckpt_").toFile
    try {
      assert(withConfs(Materialize.CheckpointDirKey -> dir.toString)(ranks())
        == expected)
      assert(rddDirs(dir) > 0,
        s"no rdd-N checkpoint dirs under $dir — reliable mode did not engage")
    } finally Fs.rmTree(dir)
  }

  test("bench detail pointer: quoted path on success, null on an " +
      "unwritable dir — compact line parses either way") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val payload = """{"metric":"total","value":1.0}"""
    // success: ref is a quoted path whose file holds the payload
    val okDir = java.nio.file.Files
      .createTempDirectory("graft_detail_ok_").toFile
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

  test("connected components: default mode still green after the hook " +
      "(flag unset in the same session)") {
    // run AFTER the reliable test may have set the SparkContext
    // checkpoint dir: the mode switch must key off the session conf
    // flag alone, never off sc.getCheckpointDir being set
    assert(spark.conf.getOption(
      Materialize.CheckpointDirKey).isEmpty)
    val nodes = (0L until 8L).toDF("id")
    val edges = Seq((0L, 1L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = operators.ConnectedComponents.labels(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L,
      5L -> 5L, 6L -> 6L, 7L -> 7L))
  }
}
