package graft.ops

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local `FileContext` file system (`LocalFs`) that
  * forks no process: the `fs.AbstractFileSystem.file.impl` of the replay
  * clone. Without `libhadoop`, stock `RawLocalFileSystem` runs `chmod`
  * for every file and dir it creates and `readlink` for every status
  * check of a rename, and Spark writes each streaming offset, commit,
  * source-log and state-store file through `FileContext`. The files,
  * `.crc` checksums and atomic renames are the stock ones. `FileContext`
  * constructs it reflectively with `(uri, conf)`; like Hadoop's `LocalFs`
  * it serves `file:///` whatever the uri.
  */
private[graft] final class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.Raw(conf))

private[graft] object LocalFs {
  /** `RawLocalFileSystem` with its two shell-outs done in the JVM. */
  final class NoForkFileSystem extends RawLocalFileSystem {
    /** The same POSIX bits through java.nio; a sticky bit keeps `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    /** Only a symbolic link has a target to read. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `RawLocalFs` (whose constructors are package-private) over
    * `NoForkFileSystem`, with the same overrides.
    */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NoForkFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
