package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a process start per file.
  *
  * Without libhadoop (the JVM-only install Spark ships), Hadoop's
  * `RawLocalFileSystem` forks `/bin/chmod` in `setPermission`, which it
  * calls for every file it creates (each data file and its `.crc`) and
  * every directory it makes, and forks `readlink` in
  * `getFileLinkStatus`, which every FileContext rename calls. A table
  * write made ten such forks at a few milliseconds each, on the
  * critical path of job setup, task file creation and job commit.
  *
  *  - `setPermission` applies the nine rwx bits in-process: the same
  *    chmod(2) Hadoop's `NativeIO.POSIX.chmod` makes when libhadoop is
  *    present. A mode with any other bit (sticky) goes to Hadoop's.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, as in Hadoop's; a symlink goes to Hadoop's.
  *
  * Everything else (bytes, checksums, listings, renames) is Hadoop's.
  * [[graft.GraftSession.builder]] installs it for `file:` through
  * [[LocalFileSystemNoFork]] and [[LocalFsNoFork]].
  */
class RawLocalFileSystemNoFork extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE are mode bits 8 .. 0
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex
           if (mode >> (8 - i) & 1) == 1) perms.add(perm)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The FileSystem API's `file:` (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[RawLocalFileSystemNoFork]].
  */
class LocalFileSystemNoFork extends LocalFileSystem(new RawLocalFileSystemNoFork)

/** The FileContext API's `file:` (`fs.AbstractFileSystem.file.impl`),
  * which carries streaming checkpoints and metadata logs: Hadoop's
  * `LocalFs` is a `ChecksumFs` over a plain `RawLocalFileSystem`, so
  * this is the same over [[RawLocalFileSystemNoFork]].
  */
class LocalFsNoFork(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFsNoFork(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[RawLocalFileSystemNoFork]], with its overrides.
  */
private class RawLocalFsNoFork(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystemNoFork, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
