package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem without the `chmod` fork.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` as
  * a child process for every file, `.crc` file and directory it creates.
  * [[LocalFs.Raw]] sets the same mode bits with one chmod(2) through NIO,
  * which is what Hadoop does itself when `NativeIO` is loaded. Bits NIO
  * cannot express (sticky) and stores without POSIX attributes take
  * Hadoop's own path. [[graft.GraftExtensions]] binds `file:` to it.
  *
  * It replaces hive-exec's `ProxyLocalFileSystem`, which Spark's
  * distribution puts on the classpath and whose service entry then wins
  * `file:`. So a rename onto an existing file fails here too, as it did
  * there, instead of replacing the file.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !(exists(dst) && getFileStatus(dst).isFile) && super.rename(src, dst)
}

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(
        pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The FileContext side (Structured Streaming checkpoint files), built
    * like Hadoop's `fs.local.LocalFs` over `fs.local.RawLocalFs`.
    */
  final class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  final class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  private val StockAbstractFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** Binds `file:` on `conf` to [[LocalFs]] unless `fs.file.impl` is
    * already set, and the FileContext side to [[Fs]] while it still
    * holds Hadoop's default class.
    */
  def bind(conf: Configuration): Unit = {
    if (conf.getTrimmed("fs.file.impl", "").isEmpty)
      conf.setClass("fs.file.impl", classOf[LocalFs], classOf[FileSystem])
    if (conf.getTrimmed("fs.AbstractFileSystem.file.impl") == StockAbstractFs)
      conf.set("fs.AbstractFileSystem.file.impl", classOf[Fs].getName)
  }
}
