package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that does not fork. Without the native Hadoop
  * library the stock class runs a `chmod` process for every `setPermission`
  * (each created file, its `.crc` and each new directory) and a `readlink`
  * process for every `getFileLinkStatus` (each checkpoint rename). Both are
  * done here through java.nio, with the same result on disk; a sticky bit,
  * which java.nio cannot set, a non-POSIX file store and a real symlink
  * still take the stock path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // rebuilt from the mode: FileContext passes an FsCreateModes, whose
      // toString is not a mode string
      val bits = PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed local `FileSystem` (`fs.file.impl`) over the fork-free raw
  * one. Like Hive's `ProxyLocalFileSystem`, which the Spark classpath
  * otherwise registers for `file://`, it refuses to rename onto an existing
  * file, as HDFS does.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !pathToFile(dst).isFile && super.rename(src, dst)
}

/** `FileContext` counterpart of Hadoop's `local.RawLocalFs`, whose
  * constructors are package-private; same overrides.
  */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Checksummed local `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`,
  * used by Spark's checkpoint manager). Like Hadoop's `local.LocalFs` it
  * ignores the URI, which is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))
