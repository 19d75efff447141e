package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only local FileSystem on its own `crashfs` scheme: once armed
  * with a predicate, the first create of a file it matches throws —
  * the crash of a writer at that point — and the filesystem disarms.
  * Enable it in a session with [[CrashFs.install]]; paths then read
  * `crashfs:///…`.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = CrashFs.Uri
  override def getScheme: String = CrashFs.Scheme

  // the local statuses load permissions through java.io.File, which
  // takes file: URIs only — serve plain statuses instead
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)

  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, permission: FsPermission): java.io.OutputStream = {
    val armed = CrashFs.armed.get()
    if (!append && armed != null && armed(f) &&
        CrashFs.armed.compareAndSet(armed, null))
      throw new java.io.IOException(s"injected crash creating $f")
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object CrashFs {
  val Scheme = "crashfs"
  private val Uri = java.net.URI.create(s"$Scheme:///")
  private val armed = new AtomicReference[Path => Boolean](null)

  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CrashFs].getName)

  /** Throw on the first create of a file matching `at`. */
  def arm(at: Path => Boolean): Unit = armed.set(at)

  /** True while armed, i.e. until the crash fires. */
  def pending: Boolean = armed.get() != null

  def disarm(): Unit = armed.set(null)
}
