package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The dead-pid scratch reaper DELETES directories, so its guards are
  * safety-critical: it must remove only graft-prefixed dirs whose
  * owning pid is provably dead — never a live process's scratch, never
  * a name without a parseable pid. Exercised directly against real
  * dirs in the scratch roots (no SparkSession needed).
  */
class ScratchReaperSpec extends AnyFunSuite {

  // 4194303 = Linux pid_max ceiling; a process at the top of that range
  // existing AND owning graft scratch at test time is practically
  // impossible, and the assertion below fails loudly if it ever does
  private val deadPid = 4194303L

  /** Backdate a tree past the quiet window: eligibility requires the
    * NEWEST mtime anywhere in the tree to be old, so every entry must
    * be pushed back, not just the root.
    */
  private def backdate(f: java.io.File): Unit = {
    val old = System.currentTimeMillis() - graft.Fs.REAP_QUIET_MS - 60000
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(backdate))
    assert(f.setLastModified(old), s"backdate $f")
  }

  private def mkFixture(d: java.io.File): Unit = {
    assert(d.mkdirs() || d.isDirectory, s"fixture dir $d")
    // a real file inside each dir so the reap exercises the
    // recursive delete, not just an empty-dir rmdir
    val marker = new java.io.File(d, "marker")
    marker.createNewFile()
    assert(marker.exists(), s"fixture marker in $d")
  }

  test("reaper removes quiet dead-pid dirs, keeps live-pid and pid-less names") {
    assert(!ProcessHandle.of(deadPid).isPresent, "sentinel pid is alive")
    val self = ProcessHandle.current().pid()
    val tmp = System.getProperty("java.io.tmpdir")
    val dead = Seq(
      new java.io.File(s"$tmp/graft_scratch_$deadPid"),
      new java.io.File(s"${graft.Fs.streamScratchRoot}/graft_scratch_${deadPid}_ckpt"),
      new java.io.File(s"${graft.Fs.streamScratchRoot}/graft_scratch_${deadPid}_1a_7"))
    // suffixed so the fixture never collides with the JVM's REAL
    // scratch dir (pidOf still parses the leading digits = self)
    val kept = Seq(
      new java.io.File(s"$tmp/graft_scratch_${self}_reapertest"),
      new java.io.File(s"$tmp/graft_scratch_nopid"))
    (dead ++ kept).foreach(mkFixture)
    (dead ++ kept).foreach(backdate)
    try {
      graft.Fs.reapDeadPidScratch(immediate = false)
      dead.foreach(d => assert(!d.exists(), s"$d should be reaped"))
      kept.foreach(d => assert(d.exists(), s"$d must survive"))
    } finally (dead ++ kept).foreach(graft.Fs.rmTree)
  }

  test("reaper keeps a RECENT dead-pid dir (cross-namespace quiet guard)") {
    assert(!ProcessHandle.of(deadPid).isPresent, "sentinel pid is alive")
    val tmp = System.getProperty("java.io.tmpdir")
    // fresh mtime = a run in another pid namespace could still be
    // writing it; only an hour of silence makes it provably dead
    val fresh = new java.io.File(s"$tmp/graft_scratch_$deadPid")
    mkFixture(fresh)
    try {
      graft.Fs.reapDeadPidScratch(immediate = false)
      assert(fresh.exists(), "recent dead-pid dir must survive the sweep")
    } finally graft.Fs.rmTree(fresh)
  }

  test("reaper treats an over-long numeric name as not-ours, not a crash") {
    assert(!ProcessHandle.of(deadPid).isPresent, "sentinel pid is alive")
    val tmp = System.getProperty("java.io.tmpdir")
    // 20 digits > Long.MaxValue: an unguarded parse would throw and a
    // failing (hence re-run) lazy initializer would brick every
    // scratch-using query until the dir is hand-removed. Planted in the
    // STREAM root, which the sweep processes before tmpdir…
    val huge = new java.io.File(
      s"${graft.Fs.streamScratchRoot}/graft_scratch_99999999999999999999")
    // …and an eligible dead-pid dir in tmpdir: the sweep wraps NonFatal,
    // so "huge survived" alone would also pass if the parse threw and
    // the whole sweep was skipped — the dead dir being reaped proves the
    // sweep ran to completion PAST the hostile name (the roots iterate
    // in sequence order, stream root first; when the two roots are the
    // same directory a throw anywhere in its listing skips the dead dir)
    val dead = new java.io.File(s"$tmp/graft_scratch_$deadPid")
    Seq(huge, dead).foreach { d => mkFixture(d); backdate(d) }
    try {
      graft.Fs.reapDeadPidScratch(immediate = false)
      assert(huge.exists(), "unparseable-pid dir must survive the sweep")
      assert(!dead.exists(),
        "sweep must complete past the hostile name and reap the dead dir")
    } finally Seq(huge, dead).foreach(graft.Fs.rmTree)
  }

  test("opt-in immediate mode reaps a RECENT dead-pid dir; live-pid and " +
      "pid-less names still survive") {
    assert(!ProcessHandle.of(deadPid).isPresent, "sentinel pid is alive")
    val self = ProcessHandle.current().pid()
    val tmp = System.getProperty("java.io.tmpdir")
    // fresh mtimes throughout — exactly the tree the default quiet
    // window refuses (previous test); only the flag changes the outcome
    val fresh = new java.io.File(s"$tmp/graft_scratch_$deadPid")
    val kept = Seq(
      new java.io.File(s"$tmp/graft_scratch_${self}_reapnowtest"),
      new java.io.File(s"$tmp/graft_scratch_nopid_reapnow"))
    (fresh +: kept).foreach(mkFixture)
    try {
      graft.Fs.reapDeadPidScratch(immediate = false)
      assert(fresh.exists(), "the same sweep without the flag keeps the dir")
      graft.Fs.reapDeadPidScratch(immediate = true)
      assert(!fresh.exists(), "immediate mode must reap on pid-death alone")
      kept.foreach(d => assert(d.exists(), s"$d must survive"))
    } finally (fresh +: kept).foreach(graft.Fs.rmTree)
  }

  test("scratch-root resolution: writable tmpfs wins, anything else " +
      "falls back to the disk tmpdir") {
    val tmp = System.getProperty("java.io.tmpdir")
    val writable = new java.io.File(s"$tmp/graft_root_probe_w")
    assert(writable.mkdirs() || writable.isDirectory)
    try {
      assert(graft.Fs.resolveScratchRoot(writable, "/fallback")
        == writable.getPath)
      // a missing dir (the no-/dev/shm container case) must fall back
      assert(graft.Fs.resolveScratchRoot(
        new java.io.File(s"$tmp/graft_root_probe_missing"), "/fallback")
        == "/fallback")
      // a FILE at the tmpfs path is not a usable root either
      val asFile = new java.io.File(s"$tmp/graft_root_probe_file")
      asFile.createNewFile()
      try assert(graft.Fs.resolveScratchRoot(asFile, "/fallback")
        == "/fallback")
      finally graft.Fs.rmTree(asFile)
      // an unwritable dir falls back (root can write anywhere, so only
      // assert when the sandbox actually enforces the bit)
      val ro = new java.io.File(s"$tmp/graft_root_probe_ro")
      assert(ro.mkdirs() || ro.isDirectory)
      try {
        ro.setWritable(false, false)
        if (!ro.canWrite)
          assert(graft.Fs.resolveScratchRoot(ro, "/fallback") == "/fallback")
      } finally { ro.setWritable(true, false); graft.Fs.rmTree(ro) }
      // explicit-override precedence: a usable override beats tmpfs; an
      // unusable or empty one falls through to the tmpfs-then-disk chain
      val shm = new java.io.File(s"$tmp/graft_root_probe_shm")
      assert(shm.mkdirs() || shm.isDirectory)
      try {
        assert(graft.Fs.chooseScratchRoot(Some(writable.getPath), shm, "/disk")
          == writable.getPath)
        assert(graft.Fs.chooseScratchRoot(
          Some(s"$tmp/graft_root_probe_missing"), shm, "/disk") == shm.getPath)
        assert(graft.Fs.chooseScratchRoot(Some(""), shm, "/disk") == shm.getPath)
        assert(graft.Fs.chooseScratchRoot(None, shm, "/disk") == shm.getPath)
        assert(graft.Fs.chooseScratchRoot(
          None, new java.io.File(s"$tmp/graft_root_probe_missing"), "/disk")
          == "/disk")
      } finally graft.Fs.rmTree(shm)
    } finally graft.Fs.rmTree(writable)
  }

  test("reaper and rmTree never follow a planted symlink") {
    // the link carries deadPid - 1, so THAT pid's absence is what makes
    // the symlink guard (not the pid-liveness guard) the thing under test
    assert(!ProcessHandle.of(deadPid - 1).isPresent, "link sentinel pid is alive")
    val tmp = System.getProperty("java.io.tmpdir")
    val victim = new java.io.File(s"$tmp/graft_reapertest_victim")
    mkFixture(victim)
    val link = new java.io.File(s"$tmp/graft_scratch_${deadPid - 1}")
    java.nio.file.Files.deleteIfExists(link.toPath)
    java.nio.file.Files.createSymbolicLink(link.toPath, victim.toPath)
    backdate(victim) // eligible by age+pid — only the link guards apply
    try {
      graft.Fs.reapDeadPidScratch(immediate = false)
      assert(new java.io.File(victim, "marker").exists(),
        "reaper must not delete through a symlink")
      // rmTree on the link itself removes the LINK, not the target
      graft.Fs.rmTree(link)
      assert(!java.nio.file.Files.isSymbolicLink(link.toPath), "link removed")
      assert(new java.io.File(victim, "marker").exists(),
        "rmTree must delete a dir symlink as a link")
    } finally {
      java.nio.file.Files.deleteIfExists(link.toPath)
      graft.Fs.rmTree(victim)
    }
  }
}
