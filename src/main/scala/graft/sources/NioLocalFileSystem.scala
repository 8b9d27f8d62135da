package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system without a subprocess per file operation.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod`
  * after every file create and mkdir (`setPermission`) and `readlink`
  * for every `getFileLinkStatus`, which `FileContext.rename` calls twice
  * per streaming checkpoint commit: an 8-round registry_ingest
  * benchmark run started about 2,500 such processes. This subclass sets
  * permissions with `java.nio` and answers link status from
  * `getFileStatus` when the path is not a symlink; everything else, and
  * every case NIO cannot express (the sticky bit, a non-POSIX file
  * system, a real symlink), goes to Hadoop's own code. [[graft.Sessions.tune]] registers it for
  * `FileSystem` ([[NioLocalFileSystem]]) and `FileContext`
  * ([[NioLocalFs]]) as the `file` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val perms = PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist")
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed local `FileSystem` (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs`, with the same overrides, over
  * [[NioRawLocalFileSystem]]; its constructors are package-private. */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in AbstractFileSystem", "hadoop 2")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed local `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`, what `FileContext` and so the
  * streaming checkpoint manager use) over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
