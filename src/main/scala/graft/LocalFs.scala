package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its two per-call process forks.
  * With no native Hadoop library, `RawLocalFileSystem` runs `chmod` on
  * every create and mkdir, and `readlink` on every `getFileLinkStatus`,
  * which `FileContext.rename` calls on each checkpoint temp-file rename.
  * That `readlink` is handed the path's URI string (`file:/…`), so it can
  * never find a link and always returns "". Here both calls go through
  * `java.nio`; a sticky or other special permission bit, and a real
  * symlink, fall back to Hadoop's own code. Everything else — `.crc`
  * files, umasked permissions, rename semantics — is Hadoop's.
  * [[LocalSession.localFsConf]] binds these classes to `file:`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is the mode's bit order, 0400 first
      val posix = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(q => if ((bits & (0x100 >> q.ordinal)) != 0) posix.add(q))
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors
  * are package-private) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("use getServerDefaults(Path)", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (FileContext, so streaming
  * checkpoints): the checksummed [[NioRawLocalFs]], as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
