package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes. Without the
  * native library (libhadoop), `RawLocalFileSystem.setPermission`
  * forks `chmod` and `getFileLinkStatus` forks `readlink` — and
  * `FileContext.rename` asks for the link status on every rename — so
  * every checkpoint, state-store, `.crc` and sink file paid for a
  * process start. These two overrides do the same in-process:
  *
  *  - `setPermission` sets the 9 rwx bits with `java.nio`; a mode that
  *    also carries sticky/setuid/setgid bits goes to the stock `chmod`.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus` — what the stock code returns once `readlink`
  *    fails; a symlink goes to the stock code.
  *
  * Everything else (checksums, atomic rename, the FS cache) is
  * Hadoop's own. [[graft.GraftSession]] registers the two faces below
  * for the `file:` scheme. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(mode).toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` face (parquet writers). */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` face
  * (streaming checkpoints and state stores). Hadoop's `RawLocalFs`
  * cannot wrap another raw FS (its constructors are package-private),
  * so its three overrides are repeated here. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
