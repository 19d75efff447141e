package graft.tools

/** Scratch-directory helper for queries that must materialize an
  * on-disk layout mid-plan (q_compact's fragment/compact rewrite,
  * q_zorder_prune's z-ordered file set). Callers compute their
  * result EAGERLY (localCheckpoint) inside `withDir`, because the
  * directory is deleted on exit — a lazily-evaluated DataFrame that
  * still references the scratch files would fail downstream
  * (ADVICE r7: the previous keep-forever design leaked two parquet
  * trees per invocation across bench/correctness runs, and its
  * String.hashCode subdir key could collide across datasets).
  */
object Scratch {

  /** Create a fresh temp directory, run `f`, always delete the tree.
    * Each call gets its own directory — no cross-dataset keying, no
    * collisions, nothing survives the call.
    */
  def withDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(dir)
    finally deleteRecursively(new java.io.File(dir))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Byte-copy a directory tree — artifact snapshotting: re-timing a
    * MUTATING operation (an index append) needs a fresh identical
    * layout per pass, with the copy cost outside the timed window.
    */
  def copyRecursively(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val stream = java.nio.file.Files.walk(s)
    try stream.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(t); ()
      } else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally stream.close()
  }

  /** All parquet data files under `path` as (path relative to `path`
    * → byte size) — the unit of "these files were not rewritten"
    * assertions (IvfIndex/PqIndex append, label-store buckets). The
    * walk stream is CLOSED: `Files.walk` holds open
    * directory handles until close()/GC, and the previous inline
    * copies of this loop leaked one per call in long-lived JVMs.
    */
  def listParquetFiles(path: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(path)
    val out = scala.collection.mutable.Map.empty[String, Long]
    val stream = java.nio.file.Files.walk(base)
    try stream.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        out(base.relativize(p).toString) = java.nio.file.Files.size(p)
    } finally stream.close()
    out.toMap
  }
}
