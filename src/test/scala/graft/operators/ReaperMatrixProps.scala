package graft.operators

import java.io.File

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck lock on the scratch reaper's deletion matrix: arbitrary
  * mixes of entry kinds (dead-pid stale, dead-pid fresh, live-pid,
  * pid-less, foreign name, symlink, unparseable-huge pid), random
  * nesting, random prefix/root, and both quiet-window and opt-in
  * immediate modes — one sweep per sample, every entry's survival
  * checked against the intended matrix. The example-based
  * ScratchReaperSpec pins each rule once; this locks their INTERPLAY
  * (the combination actually present in a shared /tmp), so any future
  * edit to the guards has to re-derive the whole matrix, not just the
  * case it was thinking about.
  *
  * Deletion matrix (given graft prefix + parseable pid):
  *   removed  iff  pid is dead AND NOT a symlink AND
  *                 (tree quiet past REAP_QUIET_MS OR immediate mode)
  * Everything else — live pid, unparseable pid, foreign name, symlink
  * however named — survives unconditionally.
  */
object ReaperMatrixProps extends Properties("ScratchReaperMatrix") {

  // Linux pid_max ceiling — same sentinel argument as ScratchReaperSpec
  private val deadPid = 4194303L
  private val selfPid = ProcessHandle.current().pid()

  private sealed trait Kind
  private case object DeadStale extends Kind
  private case object DeadFresh extends Kind
  private case object LiveSelf extends Kind
  private case object PidLess extends Kind
  private case object Foreign extends Kind
  private case object SymlinkDead extends Kind
  private case object HugePid extends Kind

  private val kinds: Seq[Kind] =
    Seq(DeadStale, DeadFresh, LiveSelf, PidLess, Foreign, SymlinkDead, HugePid)

  /** root directory + name prefix pairs the sweep actually processes */
  private def roots: Seq[(String, String)] = Seq(
    graft.Fs.streamScratchRoot -> "graft_scratch_",
    graft.Fs.diskScratchRoot -> "graft_scratch_")

  private case class Entry(kind: Kind, rootIdx: Int, depth: Int, tag: Int) {
    def root: String = roots(rootIdx)._1
    def name: String = {
      val prefix = roots(rootIdx)._2
      kind match {
        case DeadStale | DeadFresh => s"$prefix${deadPid}_m$tag"
        case LiveSelf              => s"$prefix${selfPid}_m$tag"
        case PidLess               => s"${prefix}nopid_m$tag"
        case Foreign               => s"unrelated_m$tag"
        case SymlinkDead           => s"$prefix${deadPid}_m${tag}_ln"
        case HugePid               => s"${prefix}99999999999999999999_m$tag"
      }
    }
    def file: File = new File(root, name)
    /** symlink victims live OUTSIDE the swept names */
    def victim: File = new File(root, s"reaper_matrix_victim_m$tag")
    def shouldSurvive(immediate: Boolean): Boolean = kind match {
      case DeadStale => false
      case DeadFresh => !immediate
      case _         => true
    }
  }

  private def plant(e: Entry): Unit = e.kind match {
    case SymlinkDead =>
      mkTree(e.victim, 1)
      java.nio.file.Files.createSymbolicLink(e.file.toPath, e.victim.toPath)
    case _ =>
      mkTree(e.file, e.depth)
      if (e.kind == DeadStale) backdate(e.file)
  }

  private def mkTree(d: File, depth: Int): Unit = {
    assert(d.mkdirs() || d.isDirectory, s"fixture $d")
    new File(d, "marker").createNewFile()
    if (depth > 0) mkTree(new File(d, s"nested$depth"), depth - 1)
  }

  private def backdate(f: File): Unit = {
    val old = System.currentTimeMillis() - graft.Fs.REAP_QUIET_MS - 60000
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(backdate))
    assert(f.setLastModified(old), s"backdate $f")
  }

  private val entryGen: Gen[(Kind, Int, Int)] = for {
    kind <- Gen.oneOf(kinds)
    rootIdx <- Gen.chooseNum(0, roots.size - 1)
    depth <- Gen.chooseNum(0, 2)
  } yield (kind, rootIdx, depth)

  private val sampleGen: Gen[(List[(Kind, Int, Int)], Boolean)] = for {
    es <- Gen.listOfN(5, entryGen)
    immediate <- Gen.oneOf(true, false)
  } yield (es, immediate)

  // distinct tags across ALL samples: ScalaCheck shrinks/replays
  // samples concurrently with nothing else, but leftover dirs from an
  // aborted earlier run must never alias a later sample's entries
  private val tagSeq = new java.util.concurrent.atomic.AtomicInteger

  property("one sweep enforces the whole deletion matrix") =
    Prop.forAll(sampleGen) { case (raw, immediate) =>
      assert(!ProcessHandle.of(deadPid).isPresent, "sentinel pid is alive")
      val entries = raw.map { case (k, r, d) => Entry(k, r, d, tagSeq.incrementAndGet()) }
      entries.foreach(plant)
      try {
        graft.Fs.reapDeadPidScratch(immediate)
        entries.forall { e =>
          val ok = e.file.exists() == e.shouldSurvive(immediate)
          if (!ok) println(
            s"MATRIX VIOLATION: ${e.kind} immediate=$immediate " +
              s"expected survive=${e.shouldSurvive(immediate)} at ${e.file}")
          val victimOk = e.kind != SymlinkDead || e.victim.exists()
          if (!victimOk) println(
            s"MATRIX VIOLATION: symlink target deleted through link ${e.file}")
          ok && victimOk
        }
      } finally {
        entries.foreach { e =>
          if (java.nio.file.Files.isSymbolicLink(e.file.toPath))
            java.nio.file.Files.deleteIfExists(e.file.toPath)
          else graft.Fs.rmTree(e.file)
          graft.Fs.rmTree(e.victim)
        }
      }
    }
}
