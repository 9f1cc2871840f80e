package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` file system without child processes. Without the
  * native libhadoop, `RawLocalFileSystem` runs `chmod` for every file it
  * creates and every directory it makes, and `readlink` for every
  * `getFileLinkStatus`, which FileContext's rename calls twice; a
  * streaming checkpoint's per-batch commit was mostly their cost (SCALE.md,
  * "Hadoop's local file system without child processes"). Both overrides
  * do what Hadoop's fallback does, in-process:
  *   - `setPermission` applies the nine rwx bits with
  *     `Files.setPosixFilePermissions`; a mode with higher bits (sticky,
  *     setuid) still goes to Hadoop's `chmod`;
  *   - `getFileLinkStatus` of a path that is not a symbolic link is its
  *     `getFileStatus`, which is what Hadoop returns for it, including
  *     the `FileNotFoundException` of a missing path. Real links still go
  *     to Hadoop. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` API (parquet writers,
  * committers, `FileSystem.getLocal`) over [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` API
  * (streaming checkpoints, state stores) over [[NoForkRawLocalFileSystem]].
  * Hadoop's `LocalFs` cannot be reused: its `RawLocalFs` builds a plain
  * `RawLocalFileSystem` and has a package-private constructor. The
  * overrides are `RawLocalFs`'s own. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
