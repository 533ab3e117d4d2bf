package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without its per-file child processes. Without
  * libhadoop, the stock class runs `chmod` for every file or directory
  * it creates with a permission, and `readlink` for every
  * `getFileLinkStatus` (two per FileContext rename). Both are replaced
  * by JDK calls; sticky bits, non-POSIX filesystems and real symlinks
  * still take the stock path, so every result is the stock one. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    if (bits > 0x1ff) super.setPermission(p, permission)
    else try {
      val perms = PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (bits & (0x100 >> i)) != 0 => perm
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[ForkFreeLocalFileSystem]] as an `AbstractFileSystem`, with the four
  * overrides of `org.apache.hadoop.fs.local.RawLocalFs` (whose
  * constructors are package-private). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file` scheme's `AbstractFileSystem` for streaming drains (set as
  * `fs.AbstractFileSystem.file.impl` by [[StreamIngest]]): the stock
  * `LocalFs` layering — `.crc` sidecars written and verified by
  * `ChecksumFs` — over [[ForkFreeRawLocalFs]]. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
