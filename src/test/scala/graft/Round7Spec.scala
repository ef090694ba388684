package graft

import org.apache.spark.sql.functions._

/** Round-7 hardening: the ConnectedComponents checkpoint-root guard's
  * qualified-path compare (r6 ADVICE: the raw `startsWith` never matched
  * Spark's scheme-qualified stored dir, so every round re-pointed and
  * re-UUID-ed; and a boundary-less prefix would cross roots like
  * `/a/ckpt` vs `/a/ckpt-old`), and the Bench steal denominator's
  * guest-field exclusion.
  */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("underConfiguredRoot: scheme-qualified current dir matches a plain-path root") {
    // setCheckpointDir stores file:/tmp/x/<uuid>; the config says /tmp/x
    assert(Materialize.underConfiguredRoot(
      "file:/tmp/graft_cc_x/0b2c-uuid", "/tmp/graft_cc_x", hconf))
    // and the mixed-direction case: URI-form config, plain current
    assert(Materialize.underConfiguredRoot(
      "/tmp/graft_cc_x/0b2c-uuid", "file:/tmp/graft_cc_x", hconf))
  }

  test("underConfiguredRoot: requires a path-separator boundary and exactly one level") {
    // /a/ckpt must NOT claim /a/ckpt-old/<uuid> (string-prefix trap)
    assert(!Materialize.underConfiguredRoot(
      "file:/tmp/graft_cc_x-old/0b2c-uuid", "/tmp/graft_cc_x", hconf))
    // nor a dir nested deeper than setCheckpointDir's single UUID level
    assert(!Materialize.underConfiguredRoot(
      "file:/tmp/graft_cc_x/0b2c-uuid/deeper", "/tmp/graft_cc_x", hconf))
    // nor an entirely different root
    assert(!Materialize.underConfiguredRoot(
      "file:/tmp/other/0b2c-uuid", "/tmp/graft_cc_x", hconf))
  }

  test("cc reliable mode with a plain-path config re-points ONCE, not per round") {
    // pre-fix, the never-matching guard called setCheckpointDir every
    // round: each call mints a fresh UUID subdir, so the root ends up
    // with as many UUID dirs as checkpointed rounds. Post-fix there is
    // exactly one.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_repoint_").toString
    val n = 16L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    spark.conf.set(Materialize.CheckpointDirKey, dir)
    try {
      val got = operators.ConnectedComponents.labels(nodes, edges, maxIters = 10)
        .as[(Long, Long)].collect().toMap
      assert(got == (0L until n).map(_ -> 0L).toMap)
      val uuidDirs = Option(new java.io.File(dir).listFiles)
        .map(_.count(_.isDirectory)).getOrElse(0)
      assert(uuidDirs == 1,
        s"$uuidDirs UUID subdirs under $dir — the guard re-pointed per round")
    } finally {
      spark.conf.unset(Materialize.CheckpointDirKey)
      Fs.rmTree(new java.io.File(dir))
    }
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
}
