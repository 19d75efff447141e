package graft.tools

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Hadoop-FS helpers for DURABLE serving artifacts (saved indexes) —
  * unlike [[Scratch]]'s java.io locals, these resolve the path's own
  * FileSystem, so the same maintenance code runs against HDFS/object
  * stores at cluster scale.
  *
  * It also owns the generation LIFECYCLE the five serving indexes
  * (IVF, PQ, MinHash, Semantic, Graph) share — [[publishGen]],
  * [[dirsOf]], [[dropTombstoned]], [[delete]], [[snapshot]] and
  * [[appendTarget]]. Each index keeps only its format: its frozen
  * structure and how it assigns and reads Δ rows. Layout:
  * {{{
  * root/pool/<token>/…             immutable data dirs, shared by reference
  * root/g%08d/<name>_dirs          manifests: "ord\tpool/<token>" lines
  * root/g%08d/tombstones/…parquet  deleted ids (column `id`)
  * root/g%08d/_TAG_<tag>           idempotency tag of the publish
  * root/g%08d/_COMMITTED           commit marker, created last
  * }}}
  */
object Artifacts {

  private[graft] def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  def deleteDir(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    f.delete(p, true)
    ()
  }

  // ----------------------------------------------------- generations
  // Atomic index publish (VERDICT r11 next-round #2): a rebuild that
  // overwrites a multi-directory index layout in place can be read
  // TORN by a concurrent load (new centroids, old corpus). The fix is
  // the commit-marker generation protocol: every [[publish]] writes a
  // COMPLETE layout into a fresh `g<N>/` subdir and then creates the
  // empty `_COMMITTED` marker inside it — a single atomic file create,
  // no rename of a live path anywhere. [[currentGen]] resolves the
  // highest committed generation, so a load racing a rebuild observes
  // either the old generation or the new one, never a mix. The
  // previous committed generation is retained (readers that resolved
  // it mid-rebuild keep a complete layout); everything older is
  // pruned. Same shape as a parquet job's _SUCCESS marker and
  // Iceberg/Delta's snapshot pointer, reduced to what a filesystem
  // gives us for free.

  private val GenPattern = "^g(\\d{8})$".r
  private val Committed = "_COMMITTED"

  /** (genNumber, path, committed) for every generation dir under
    * `root`, ascending.
    */
  private def listGens(spark: SparkSession,
      root: String): Seq[(Long, Path, Boolean)] = {
    val (f, p) = fs(spark, root)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case GenPattern(n) =>
          Some((n.toLong, f.makeQualified(st.getPath),
            f.exists(new Path(st.getPath, Committed))))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Path of the highest COMMITTED generation under `root`, or None if
    * nothing has been published. This is the load-side resolver: it
    * never observes an in-flight rebuild (no marker yet) or a torn
    * layout (the marker is created only after every part is written).
    */
  def currentGen(spark: SparkSession, root: String): Option[String] =
    listGens(spark, root).filter(_._3).lastOption.map(_._2.toString)

  /** ALL committed generations under `root`, ascending — at most the
    * previous and current after any [[publish]] (older ones are
    * pruned). Pool pruning takes the union of their manifests.
    */
  def committedGens(spark: SparkSession, root: String): Seq[String] =
    listGens(spark, root).filter(_._3).map(_._2.toString)

  /** [[currentGen]] that fails LOUDLY when nothing was ever published
    * — the maintenance-side resolver (append/delete/compact/load on a
    * root with no committed generation is a caller bug, not an empty
    * index).
    */
  def requireGen(spark: SparkSession, root: String): String =
    currentGen(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed index generation under $root — publish (save) first"))

  /** Strip the filesystem scheme off a [[currentGen]]/[[requireGen]]
    * result for java.io/java.nio consumers (local runs only — Spark
    * readers take the qualified URI as-is).
    */
  def localPath(qualified: String): String =
    try new java.net.URI(qualified).getPath
    catch { case _: java.net.URISyntaxException => qualified }

  /** Fresh immutable data dir under `root/pool` for one write —
    * generations point at pool dirs through manifests, so untouched
    * data passes between generations BY REFERENCE.
    */
  def newPoolDir(root: String): String =
    s"$root/pool/" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** Write `df` into a fresh pool dir and return the dir. A
    * partitioned write of an empty frame leaves no file to read a
    * schema from ([UNABLE_TO_INFER_SCHEMA] at load); the frame's
    * schema is then written as one zero-row flat file instead, so
    * every pool dir reads back.
    */
  private[graft] def writePool(df: DataFrame, root: String,
      partitionBy: String*): String = {
    val dir = newPoolDir(root)
    if (partitionBy.isEmpty) df.write.parquet(dir)
    else {
      df.write.partitionBy(partitionBy: _*).parquet(dir)
      if (!holdsRows(df.sparkSession, dir))
        df.limit(0).write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** True when some parquet file under `dir` holds a row — footer
    * reads on the driver, stopping at the first non-empty file; no
    * Spark job.
    */
  private def holdsRows(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    val files = f.listFiles(p, true)
    var found = false
    while (!found && files.hasNext) {
      val st = files.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
            spark.sparkContext.hadoopConfiguration))
        try found = r.getRecordCount > 0 finally r.close()
      }
    }
    found
  }

  /** Delete pool subdirs whose token appears in none of
    * `referencedDirs` (each a path of the form
    * `root/pool/<token>[/…]`). Callers pass the union of every
    * COMMITTED generation's manifest, so in-flight readers of the
    * retained previous generation keep a complete layout.
    */
  def prunePool(spark: SparkSession, root: String,
      referencedDirs: Iterable[String]): Unit = {
    val keep = referencedDirs
      .map(d => d.split("/pool/").last.split("/").head).toSet
    val (f, poolP) = fs(spark, s"$root/pool")
    if (f.exists(poolP))
      f.listStatus(poolP).foreach { st =>
        if (st.isDirectory && !keep.contains(st.getPath.getName))
          f.delete(st.getPath, true)
      }
  }

  /** Write a tiny metadata FILE (UTF-8 lines) directly through the
    * path's FileSystem — a one-line manifest does not need a Spark
    * job (optimization r17: each `repartition(1).write.parquet`
    * manifest cost one fixed-overhead job per publish, dominating
    * per-trigger maintenance wall at any SF; writes inside a
    * generation are invisible until the `_COMMITTED` marker lands, so
    * a plain create is as atomic as the protocol needs).
    */
  def writeLinesFile(spark: SparkSession, path: String,
      lines: Seq[String]): Unit = {
    val (f, p) = fs(spark, path)
    val out = f.create(p, true)
    try out.write(lines.map(_ + "\n").mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a [[writeLinesFile]] file back. */
  def readLinesFile(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in,
      java.nio.charset.StandardCharsets.UTF_8.name()).getLines().toList
    finally in.close()
  }

  /** The dirs of manifest `name` in `gen`, in PUBLISH ORDER, resolved
    * against `root` — empty when the generation has no such manifest.
    * Dirs are stored root-relative (the layout stays valid when
    * copied or moved) as `ord\tdir` lines; readers that need "the
    * newest dir" take the highest ord, never a lexical sort of random
    * pool tokens (ADVICE r13).
    */
  private[graft] def dirsOf(spark: SparkSession, root: String, gen: String,
      name: String): Seq[String] =
    if (!exists(spark, s"$gen/$name")) Nil
    else readLinesFile(spark, s"$gen/$name").map(_.split("\t", 2))
      .sortBy(_(0).toInt).map(a => s"$root/${a(1)}")

  private val TagPrefix = "_TAG_"

  /** The idempotency tag of `gen`, if any (see [[publishGen]]). */
  def tagOf(spark: SparkSession, gen: String): Option[String] = {
    val (f, p) = fs(spark, gen)
    if (!f.exists(p)) None
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix))
  }

  /** Publish a new generation: `write` receives a fresh `g<N>/` path
    * and must write the COMPLETE layout into it; the commit marker is
    * created only after `write` returns, then generations older than
    * the previous committed one are pruned. Returns the committed
    * generation's path. A crash inside `write` leaves an uncommitted
    * dir that no reader resolves and the next publish overwrites.
    */
  def publish(spark: SparkSession, root: String)(write: String => Unit): String = {
    val gens = listGens(spark, root)
    val next = gens.lastOption.map(_._1 + 1).getOrElse(0L)
    val (f, _) = fs(spark, root)
    val genPath = f.makeQualified(new Path(root, f"g$next%08d"))
    f.delete(genPath, true) // impossible by numbering, but be safe
    write(genPath.toString)
    f.mkdirs(genPath) // a write() that wrote nothing still commits
    f.create(new Path(genPath, Committed), true).close()
    // retain the previous committed generation for in-flight readers;
    // prune older ones and any stale uncommitted dirs
    val keep = gens.filter(_._3).map(_._1).lastOption
    gens.foreach { case (n, p, committed) =>
      if ((committed && !keep.contains(n)) || (!committed && n < next))
        f.delete(p, true)
    }
    genPath.toString
  }

  // ------------------------------------------- serving-index lifecycle

  /** Publish one serving-index generation — the lifecycle every index
    * shares. Inside the new generation: `write` writes the frozen
    * structure that changed, the `copy` files that exist in `parent`
    * are byte-copied from it (a frozen structure re-committed
    * unchanged — no Spark job per trigger, optimization r17), the
    * parent's tombstone files minus the `folded` ones are carried
    * forward (a delete stays deleted across maintenance publishes),
    * each `manifests` entry (name → pool dirs) is written, and `tag`
    * is stamped. Then the commit marker, then the pool is pruned to
    * the union of every committed generation's manifests.
    *
    * A dir new to this generation that holds no row (an empty Δ) is
    * left out of its manifest, so an empty trigger still commits its
    * tag — replays stay exactly-once — without referencing an empty
    * dir; only a manifest that would end up with no dir at all (an
    * emptied index) keeps its last, zero-row dir, which reads back as
    * zero rows.
    *
    * The streaming maintenance loop uses `tag` to make at-least-once
    * trigger replays exactly-once (ADVICE r13): a replayed
    * foreachBatch sees its own tag on the current committed generation
    * and skips the re-publish.
    */
  private[graft] def publishGen(spark: SparkSession, root: String,
      manifests: Seq[(String, Seq[String])], parent: Option[String] = None,
      folded: Set[String] = Set.empty, copy: Seq[String] = Nil,
      tag: Option[String] = None,
      write: String => Unit = _ => ()): String = {
    val kept = manifests.map { case (name, dirs) =>
      val old = parent.map(dirsOf(spark, root, _, name).toSet)
        .getOrElse(Set.empty[String])
      val live = dirs.filter(d => old(d) || holdsRows(spark, d))
      name -> (if (live.isEmpty) dirs.takeRight(1) else live)
    }
    val (f, _) = fs(spark, root)
    val gen = publish(spark, root) { gen =>
      write(gen)
      parent.foreach { p =>
        def cp(src: String, dst: String): Unit = {
          FileUtil.copy(f, new Path(src), f, new Path(dst), false, false,
            spark.sparkContext.hadoopConfiguration)
          ()
        }
        copy.filter(n => exists(spark, s"$p/$n"))
          .foreach(n => cp(s"$p/$n", s"$gen/$n"))
        (tombstoneFiles(spark, p) -- folded)
          .foreach(t => cp(t, s"$gen/tombstones/${new Path(t).getName}"))
      }
      kept.foreach { case (name, dirs) =>
        writeLinesFile(spark, s"$gen/$name",
          dirs.zipWithIndex.map { case (d, i) =>
            s"$i\t${d.stripPrefix(root).stripPrefix("/")}"
          })
      }
      tag.foreach(t => f.create(new Path(gen, TagPrefix + t), true).close())
    }
    prunePool(spark, root, committedGens(spark, root).flatMap { g =>
      val (gf, gp) = fs(spark, g)
      gf.listStatus(gp).map(_.getPath.getName).filter(_.endsWith("_dirs"))
        .flatMap(dirsOf(spark, root, g, _))
    })
    gen
  }

  /** The tombstone sidecar's data files under `gen` — the FILE-level
    * snapshot unit of [[snapshot]] and the tombstone carry.
    */
  def tombstoneFiles(spark: SparkSession, gen: String): Set[String] =
    if (!exists(spark, s"$gen/tombstones")) Set.empty
    else {
      val (f, p) = fs(spark, s"$gen/tombstones")
      f.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    }

  private def antiJoin(df: DataFrame, ids: DataFrame,
      idCols: Seq[String]): DataFrame =
    idCols.foldLeft(df)((d, c) => d.join(ids, d(c) === ids("id"), "left_anti"))

  /** The load-side tombstone anti-join: `df` minus every row whose
    * `idCols` (each one) name an id tombstoned in `gen`, so every
    * probe over a loaded index sees the post-delete corpus with zero
    * changes to the probe path. The sidecar is small by the
    * compaction cadence, so the join rides a broadcast; a partition
    * filter on `df` still pushes through the streamed side.
    */
  private[graft] def dropTombstoned(spark: SparkSession, gen: String,
      df: DataFrame, idCols: String*): DataFrame =
    if (!exists(spark, s"$gen/tombstones")) df
    else antiJoin(df, spark.read.parquet(s"$gen/tombstones"), idCols)

  /** Logical delete, the retraction half of index maintenance: append
    * the distinct ids in `idCol` to the current generation's tombstone
    * sidecar; no data file is touched. Cost ∝ |ids|; [[publishGen]]
    * carries the sidecar forward and compaction folds it in.
    */
  private[graft] def delete(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(s"${requireGen(spark, root)}/tombstones")

  /** A FILE-level tombstone snapshot: the sidecar files listed once and
    * their ids checkpointed once (ADVICE r12 — snapshotting ids and
    * anti-joining the sidecar afterwards silently dropped a delete
    * landing in between). Compaction and rebuilds [[fold]] every data
    * rewrite against the same frozen ids and pass `files` as
    * [[publishGen]]'s `folded`: a delete landing mid-compact is
    * carried into the new generation instead of being lost.
    */
  private[graft] final case class Snapshot(files: Set[String],
      ids: Option[DataFrame]) {
    def fold(df: DataFrame, idCols: String*): DataFrame =
      ids.fold(df)(antiJoin(df, _, idCols))
  }

  private[graft] def snapshot(spark: SparkSession, gen: String): Snapshot = {
    val files = tombstoneFiles(spark, gen)
    Snapshot(files,
      if (files.isEmpty) None
      else Some(spark.read.parquet(files.toSeq: _*).select(col("id"))
        .localCheckpoint()))
  }

  /** (current generation, in-place append target) — the target is the
    * newest dir of manifest `name` that holds rows and that the
    * previous committed generation does NOT reference: the one place
    * an in-place append is invisible to readers pinned to the
    * retained previous generation (ADVICE r13). None when every dir
    * is shared; the caller then publishes a generation instead.
    */
  private[graft] def appendTarget(spark: SparkSession, root: String,
      name: String): (String, Option[String]) = {
    val gens = committedGens(spark, root)
    require(gens.nonEmpty,
      s"no committed index generation under $root — publish (save) first")
    val prev = gens.dropRight(1).lastOption
      .map(dirsOf(spark, root, _, name).toSet).getOrElse(Set.empty[String])
    (gens.last, dirsOf(spark, root, gens.last, name).filterNot(prev)
      .reverseIterator.find(holdsRows(spark, _)))
  }
}
