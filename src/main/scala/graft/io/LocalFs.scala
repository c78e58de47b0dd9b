package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes.
  *
  * Without `libhadoop`, `RawLocalFileSystem` forks `chmod` in
  * `setPermission` (every file and directory it creates, `.crc` files
  * included) and `readlink` in `getFileLinkStatus` (both sides of every
  * `FileContext` rename); see [[graft.GraftSession]] for what that cost.
  * This class does both through java.nio. Whatever java.nio cannot express
  * takes the stock path: the sticky bit, a filesystem without POSIX
  * attributes, and real symlinks.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else {
      // PosixFilePermission's order is rwxrwxrwx, from bit 8 (0400) down
      val bits = PosixFilePermission.values.zipWithIndex.collect {
        case (b, i) if (mode & (0x100 >> i)) != 0 => b
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[ForkFreeRawLocalFileSystem]]
  * (`fs.file.impl`). A `LocalFileSystem`, so `FileSystem.getLocal` works.
  */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` binding of [[ForkFreeRawLocalFileSystem]], as Hadoop's
  * `local.RawLocalFs` binds the stock one.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // names are left to the OS, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `local.LocalFs`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
