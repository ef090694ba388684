package graft

/** Round-6 consolidation invariants: the ConnectedComponents reliable-
  * checkpoint hook.
  */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("connected components: reliable-checkpoint mode yields identical " +
      "labels and actually writes checkpoint files") {
    val dir = TestScratch.dir("graft_cc_ckpt_").toString
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
    val dirs = Seq.fill(2)(TestScratch.dir("graft_cc_ckpt_move_").toFile)
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
    val dir = TestScratch.dir("graft_pr_ckpt_").toFile
    try {
      assert(withConfs(Materialize.CheckpointDirKey -> dir.toString)(ranks())
        == expected)
      assert(rddDirs(dir) > 0,
        s"no rdd-N checkpoint dirs under $dir — reliable mode did not engage")
    } finally Fs.rmTree(dir)
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
