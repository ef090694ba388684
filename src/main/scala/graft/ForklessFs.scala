package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its shell processes.
  *
  * Without libhadoop (Spark ships none), `RawLocalFileSystem` starts a
  * `chmod` process for every `setPermission` and a `readlink` process
  * for every `getFileLinkStatus`. Every part file, `.crc` file and
  * committer directory a file:// write creates pays the first; every
  * rename a streaming checkpoint commit makes through `FileContext`
  * pays the second. These two overrides do the same through java.nio:
  *
  *  - `setPermission` sets the nine rwx bits, as `chmod` does (it
  *    follows a symlink, as `chmod` does). A mode with bits above them
  *    (sticky) or a store with no POSIX view goes to Hadoop's path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop's path returns after its
  *    `readlink` prints nothing. A symlink goes to Hadoop's path.
  *
  * Installed as the file:// default by
  * [[org.apache.spark.sql.graft.GraftExtensions]], through
  * [[ForklessLocalFileSystem]] and [[ForklessLocalFs]]; SCALE.md, "Local
  * file I/O", has the fork counts and the limits.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, perm: FsPermission): Unit = {
    // the bits, as Hadoop's chmod takes them: FileContext passes an
    // FsCreateModes, whose toString is no mode string
    val mode = perm.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[PosixFileAttributeView])
    if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, perm)
    else view.setPermissions(ForklessRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object ForklessRawLocalFileSystem {

  /** The nine rwx bits of `mode` as a permission set: `values` runs
    * owner read to others execute, octal 0400 down to 0001.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(bit)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed local file system over
  * [[ForklessRawLocalFileSystem]].
  */
class ForklessLocalFileSystem
    extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the file system `FileContext` uses
  * (streaming checkpoints commit through it): Hadoop's `local.LocalFs`
  * over [[ForklessRawLocalFileSystem]]. Hadoop's `local.RawLocalFs`
  * creates its `RawLocalFileSystem` itself, so this pair repeats its
  * four overrides instead of wrapping it. `FileContext` constructs it
  * by `(URI, Configuration)`; the URI of file:// is fixed, as in Hadoop's.
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(conf))

class ForklessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @scala.annotation.nowarn("cat=deprecation")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
