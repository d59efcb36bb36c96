package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its per-file child processes.
  *
  * Without libhadoop (`NativeIO` unavailable), `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates (`setPermission`), and
  * `getFileLinkStatus` forks `readlink`, twice per FileContext rename. A
  * collector micro-batch creates dozens of files (part files, `.crc`
  * siblings, staging dirs, offsets and commits entries), so
  * it forks dozens of children per batch (JFR `jdk.ProcessStart` shows
  * them). [[Raw]] does the same two things through `java.nio.file`,
  * in-process:
  *
  *   - `setPermission` sets the same rwx bits with
  *     `Files.setPosixFilePermissions`; a non-POSIX default file system or
  *     a mode with bits beyond rwx (sticky) still goes to Hadoop;
  *   - `getFileLinkStatus` returns `getFileStatus(f)` for a path that is not
  *     a symlink, which is what Hadoop returns once `readlink` prints
  *     nothing; a symlink still goes to Hadoop.
  *
  * Everything else is Hadoop's own code, so permissions, `.crc` siblings,
  * `_SUCCESS` and rename semantics stay what stock Hadoop produces
  * (LocalFsSpec compares both under umasks 022 and 077). [[Checksummed]]
  * is the `FileSystem` (`fs.file.impl`), [[Context]] the
  * `AbstractFileSystem` behind FileContext (`fs.AbstractFileSystem.file.impl`).
  * Every stream installs both for its own session when it starts, see
  * [[graft.streaming.Streams.start]].
  */
object LocalFs {

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || (permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val rwx = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `LocalFileSystem` (checksummed) over [[Raw]]: the `fs.file.impl` class. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` over [[Raw]] (its constructors are package-private). */
  final class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("as in Hadoop's RawLocalFs", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop's `LocalFs` (`ChecksumFs` over the raw one), over [[Raw]]: the
    * `fs.AbstractFileSystem.file.impl` class. `(URI, Configuration)` is the
    * constructor Hadoop looks up; like `LocalFs` it serves `file:///` only.
    */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))
}
