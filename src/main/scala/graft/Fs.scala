package graft

import java.io.File

/** Local-filesystem helpers shared by the harness mains and the
  * scratch-dir round-trip queries, and the one owner of the scratch
  * files a run writes. Harness/fixture-side only — operator data paths
  * go through Spark's committers, never through this.
  *
  * Scratch layout: each of the two roots holds one per-process
  * directory, `<root>/graft_scratch_<pid>/`, and every scratch path is
  * a name inside it ([[scratch]] on the disk root, [[streamScratch]] on
  * the stream root). The tree is emptied on first use in a JVM, so a
  * recycled pid never inherits a dead run's files, and freed by
  * [[releaseScratch]]: `Cleanup.release` calls it, and so does the
  * shutdown hook first use registers. When both roots are the same
  * directory the two kinds share one pid directory, so their names
  * must not collide.
  */
object Fs {
  /** Recursive delete; missing paths are fine. A symlink to a directory
    * is deleted as a LINK, never followed: `File.isDirectory` resolves
    * links, so recursing would delete the target's contents — and the
    * scratch roots this sweeps (`/tmp`, tmpfs) are world-writable, where
    * a planted symlink must not become an arbitrary-tree delete.
    */
  def rmTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** Stable 48-bit hex tag identifying a dataset path, for scratch-dir
    * and table-name suffixes. MD5-derived, NOT String.hashCode: 32-bit
    * hashCode collisions between two dataset dirs are birthday-probable
    * across many dirs (and constructible), and a collision makes two
    * datasets silently share a sink/table — one's results read back as
    * the other's. 48 bits puts a same-JVM collision out of reach.
    */
  def pathTag(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString

  /** The bulk scratch root: round-trip sinks, the stored tokenizer and
    * the bucketed-table warehouse stay on disk, never in RAM. */
  private[graft] lazy val diskScratchRoot: String =
    System.getProperty("java.io.tmpdir")

  /** `tmpfs` when it is a writable directory, else `fallback`. Factored
    * out of the lazy root so BOTH branches are spec-pinned (the fallback
    * is exactly the case that shows up on a locked-down driver host,
    * where it silently turns every stateful stream checkpoint into
    * fsync-bound disk I/O).
    */
  private[graft] def resolveScratchRoot(tmpfs: File, fallback: String): String =
    if (tmpfs.isDirectory && tmpfs.canWrite) tmpfs.getPath else fallback

  /** First writable root wins: the explicit `SPARK_GRAFT_STREAM_SCRATCH`
    * override (a host without writable /dev/shm can point the stream
    * scratch at whatever tmpfs it DOES have), then /dev/shm, then the
    * disk tmpdir. An unusable override falls through rather than
    * failing — the bench env block's `ckpt_root` records what actually
    * won, so a mispointed override is visible in the artifact.
    */
  private[graft] def chooseScratchRoot(overridePath: Option[String],
      tmpfs: File, disk: String): String = {
    val fallback = resolveScratchRoot(tmpfs, disk)
    overridePath.filter(_.nonEmpty)
      .map(p => resolveScratchRoot(new File(p), fallback))
      .getOrElse(fallback)
  }

  /** The stream root: stream checkpoints and append sinks. tmpfs when
    * writable, because every micro-batch commit fsyncs a handful of tiny
    * files (offset log, commit log, per-partition state deltas); on a
    * disk tmpdir that latency IS the fixture floor, and none of it buys
    * durability a bounded replay needs. Production checkpoints go to
    * durable shared storage — this only relocates the harness's scratch.
    * Bench records it as `env.ckpt_root`: a disk root alone explains a
    * state-store-bound stream timing several times its tmpfs value.
    */
  lazy val streamScratchRoot: String =
    chooseScratchRoot(sys.env.get("SPARK_GRAFT_STREAM_SCRATCH"),
      new File("/dev/shm"), diskScratchRoot)

  private val ScratchPrefix = "graft_scratch_"

  private def pidDir(root: String): File =
    new File(root, ScratchPrefix + ProcessHandle.current().pid())

  /** First use in a JVM: reap dead runs' scratch, empty this pid's
    * directories, and register the release on exit — the test JVMs have
    * no Verify/Bench-style cleanup call site, and on a tmpfs root an
    * orphan set per JVM is leaked RAM (every stream query is awaited
    * before its result returns, so nothing still writes at shutdown).
    */
  private lazy val firstUse: Unit = {
    reapDeadPidScratch(sys.env.get("SPARK_GRAFT_REAP_IMMEDIATE").contains("1"))
    releaseScratch()
    sys.addShutdownHook(releaseScratch())
  }

  /** `<disk root>/graft_scratch_<pid>/<name>`. */
  def scratch(name: String): String = {
    firstUse
    new File(pidDir(diskScratchRoot), name).getPath
  }

  /** `<stream root>/graft_scratch_<pid>/<name>`. */
  def streamScratch(name: String): String = {
    firstUse
    new File(pidDir(streamScratchRoot), name).getPath
  }

  /** Free this process's scratch on both roots. Never forces first use:
    * a run that wrote no scratch deletes two missing paths.
    */
  def releaseScratch(): Unit =
    Seq(diskScratchRoot, streamScratchRoot).distinct
      .foreach(r => rmTree(pidDir(r)))

  /** Tree must be this quiet (newest mtime anywhere) before a dead-pid
    * dir is reaped. Costs nothing for truly dead scratch — it just waits
    * out the hour — and makes the cross-namespace false positive need a
    * run that wrote NOTHING for an hour mid-query.
    */
  private[graft] val REAP_QUIET_MS: Long = 60L * 60 * 1000

  /** Reap scratch left by JVMs that died without running their shutdown
    * hook (OOM-kill, SIGKILL — plausible for Spark under memory
    * pressure). Every scratch dir is pid-tagged, so a dir whose owning
    * pid no longer exists is garbage; on the tmpfs stream root those
    * orphans are pinned RAM that no OS tmp-cleaner ever reclaims. Each
    * new JVM sweeps once on first scratch use, so a kill leaks only
    * until the next run that finds the dir quiet (below). A live
    * unrelated process that recycled the pid keeps the dir — first
    * use empties it before that pid's run writes anything.
    *
    * Two guards beyond the pid check, because this DELETES trees in
    * world-writable roots:
    *  - pid-absence alone is unsound when the scratch root is a volume
    *    shared across pid namespaces (two containers mounting one /tmp:
    *    each sees only its own pids, so each would reap the other's
    *    LIVE run). A live run keeps writing, so we additionally require
    *    the whole tree untouched for REAP_QUIET_MS — dead scratch ages
    *    into eligibility, live scratch never does.
    *  - a planted symlink named like graft scratch must not become an
    *    arbitrary-tree delete: symlinked entries are skipped outright
    *    (and rmTree independently refuses to follow links).
    *
    * `immediate` skips the quiet window and reaps on pid-death alone
    * (`SPARK_GRAFT_REAP_IMMEDIATE=1` at first use). The window exists
    * ONLY for roots shared across pid namespaces; where the roots are
    * namespace-local, pid-death is proof of orphanhood and the hour's
    * grace just pins a crash-looping driver's tmpfs RAM. Deliberately an
    * explicit flag, never autodetected: whether /tmp or /dev/shm is
    * shared is a deployment fact the process cannot see from inside.
    */
  private[graft] def reapDeadPidScratch(immediate: Boolean): Unit = try {
    def pidOf(dirName: String): Option[Long] = {
      val digits = dirName.drop(ScratchPrefix.length).takeWhile(_.isDigit)
      // toLongOption, not toLong: a >19-digit numeric name planted in
      // these world-writable roots must read as "not ours" — an
      // unguarded parse would fail the lazy first use, and a failed
      // lazy is RE-RUN (and re-thrown) on every access, bricking every
      // scratch-using query in every JVM until the dir is hand-removed
      if (digits.isEmpty) None else digits.toLongOption
    }
    def isLink(f: File): Boolean = java.nio.file.Files.isSymbolicLink(f.toPath)
    def newestMtime(f: File): Long = {
      val own = f.lastModified
      if (f.isDirectory && !isLink(f))
        Option(f.listFiles)
          .map(_.foldLeft(own)((m, c) => math.max(m, newestMtime(c))))
          .getOrElse(own)
      else own
    }
    val self = ProcessHandle.current().pid()
    val cutoff = System.currentTimeMillis() - REAP_QUIET_MS
    for (root <- Seq(streamScratchRoot, diskScratchRoot).distinct) {
      val entries = new File(root).listFiles()
      if (entries != null) for (f <- entries)
        if (f.getName.startsWith(ScratchPrefix) && !isLink(f))
          pidOf(f.getName).foreach { pid =>
            if (pid != self && !ProcessHandle.of(pid).isPresent &&
                (immediate || newestMtime(f) < cutoff))
              rmTree(f)
          }
    }
  } catch {
    // best-effort janitor: anything unexpected in these world-writable
    // roots (races, permissions) skips the sweep, never the queries
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] dead-pid scratch sweep skipped: $e")
  }
}
