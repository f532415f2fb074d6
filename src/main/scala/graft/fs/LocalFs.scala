package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free `file:` filesystem.
  *
  * Without native libhadoop (a plain Spark download ships none),
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process, and
  * every `create` and `mkdirs` calls it: each part file, `.crc` sidecar,
  * `_temporary` dir, offset/commit-log entry and RocksDB snapshot zip costs
  * one process spawn (~10 ms). This subclass writes the nine rwx bits with
  * `Files.setPosixFilePermissions` instead — the same chmod(2) the native
  * path makes. Modes carrying sticky/setuid/setgid bits, and non-POSIX
  * platforms, take the stock path. Everything else (umask, rename,
  * overwrite, the commit protocol) is Hadoop's own code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !NioRawLocalFileSystem.posix) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission ordinals run OWNER_READ (bit 8) .. OTHERS_EXECUTE (bit 0)
      for (perm <- PosixFilePermission.values() if (mode & (0x100 >> perm.ordinal)) != 0) perms.add(perm)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `FileSystem` API: Hadoop's checksummed `LocalFileSystem` (`.crc`
  * sidecars, verification on read) over the fork-free raw layer. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` API twin of `org.apache.hadoop.fs.local.RawLocalFs`, whose
  * constructors are package-private; the overrides repeat its own. Spark's
  * checkpoint manager (offset/commit logs, RocksDB zips) writes through
  * this API, not `FileSystem`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API twin of `org.apache.hadoop.fs.local.LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
