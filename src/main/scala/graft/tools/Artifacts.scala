package graft.tools

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition,
  FileScanRDD, FileStatusCache, HadoopFsRelation, InMemoryFileIndex,
  PartitionedFile, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetReadSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType,
  StructField, StructType}

/** Hadoop-FS helpers for DURABLE serving artifacts (saved indexes) —
  * unlike [[Scratch]]'s java.io locals, these resolve the path's own
  * FileSystem, so the same maintenance code runs against HDFS/object
  * stores at cluster scale.
  *
  * It also owns the generation LIFECYCLE every durable artifact
  * shares — the five serving indexes (IVF, PQ, MinHash, Semantic,
  * Graph) and the CC label store: [[publishGen]], [[dirsOf]],
  * [[dropTombstoned]], [[delete]] and [[snapshot]]. [[publishGen]] is
  * the only writer of a generation; [[delete]]'s tombstone sidecar is
  * the only file added to a committed one. Each artifact keeps only
  * its format: its frozen structure and how it assigns and reads Δ
  * rows. Layout:
  * {{{
  * root/pool/<token>/…             immutable data dirs, shared by reference
  * root/g%08d/<name>_dirs          manifests: "ord\tpool/<token>[/…]" lines
  *                                 (e.g. corpus_dirs, bucket_dirs)
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
  private def holdsRows(spark: SparkSession, dir: String): Boolean =
    leafFiles(spark, dir).exists(st =>
      st.getPath.getName.endsWith(".parquet") &&
        withReader(spark, st)(_.getRecordCount > 0))

  private def withReader[T](spark: SparkSession, st: FileStatus)(
      body: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
    try body(r) finally r.close()
  }

  /** The data files under `path` (the path itself when it is a file):
    * a driver-side `listStatus` walk, the one leaf walk of the serving
    * artifacts and of [[graft.layout.StatsPrunedRead]]. It starts no
    * Spark job and reads no owner or permission — `listFiles` builds a
    * `LocatedFileStatus` per entry, whose constructor does, and
    * Hadoop's non-native local filesystem forks `ls -ld` for each. The
    * returned statuses carry path, length and times only. Hidden names
    * (a leading '_' or '.': `_SUCCESS`, checksum files, staging dirs)
    * are skipped exactly as Spark's file index skips them; partition
    * directories are recursed.
    */
  private[graft] def leafFiles(spark: SparkSession,
      path: String): Seq[FileStatus] = {
    val (f, p) = fs(spark, path)
    def walk(d: Path): Iterator[FileStatus] =
      f.listStatus(d).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath)
        else Iterator.single(new FileStatus(st.getLen, false,
          st.getReplication, st.getBlockSize, st.getModificationTime,
          st.getPath))
      }
    walk(p).toSeq
  }

  /** One parquet scan over the [[leafFiles]] of every path in `paths`,
    * planned on the driver: the file index is filled from the walk and
    * the schema is read from one footer, so no listing job and no
    * schema-inference job runs, now or when the frame is executed.
    * `partitionBy` names the int-valued `name=value` directory levels
    * of a `partitionBy` write (the IVF `cell`). Each path is its own
    * partition base, so sibling pool dirs read as one relation, which
    * one multi-path `spark.read.parquet` refuses
    * ([CONFLICTING_DIRECTORY_STRUCTURES]). A file outside every
    * partition dir (the zero-row flat file of an empty partitioned
    * pool) holds no row and is not scanned. Columns, their order and
    * their nullability are those `spark.read.parquet` gives.
    */
  private[graft] def readParquet(spark: SparkSession, paths: Seq[String],
      partitionBy: String*): DataFrame =
    walkParquet(spark, paths, partitionBy: _*).frame

  /** The walk behind [[readParquet]], kept: its frame, and a read of
    * the files of chosen partition values alone.
    */
  private[graft] def walkParquet(spark: SparkSession, paths: Seq[String],
      partitionBy: String*): ParquetWalk = {
    val leaves = paths.map { d =>
      val (f, p) = fs(spark, d)
      f.makeQualified(p) -> leafFiles(spark, d).toArray
    }.toMap
    val files = leaves.values.flatten.toSeq
    require(files.nonEmpty, s"no data file under ${paths.mkString(", ")}")
    val partSchema = StructType(partitionBy.map(StructField(_, IntegerType)))
    val partitions = if (partitionBy.isEmpty) Nil
      else files.map(_.getPath.getParent).distinct.flatMap { dir =>
        val levels = Iterator.iterate(dir)(_.getParent)
          .take(partitionBy.size).map(_.getName.split("=", 2)).toSeq.reverse
        if (levels.map(_.head) != partitionBy) None
        else Some(PartitionPath(
          InternalRow.fromSeq(levels.map(_(1).toInt)), dir))
      }
    // every file here was written by Spark, which stores its schema in
    // the footer; Spark's own inference reads that schema first
    val written = withReader(spark, files.head)(r => DataType.fromJson(
      r.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType])
    val dataSchema = StructType(written.fields
      .filterNot(f => partitionBy.contains(f.name))
      .map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    new ParquetWalk(spark, leaves, PartitionSpec(partSchema, partitions),
      dataSchema)
  }

  /** Parquet files walked on the driver, with their partition dirs and
    * the schema written into them.
    */
  private[graft] final class ParquetWalk(spark: SparkSession,
      leaves: Map[Path, Array[FileStatus]], spec: PartitionSpec,
      dataSchema: StructType) {

    def frame: DataFrame = {
      val filled = new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
          leaves.get(p)
        def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, leaves.keys.toSeq, Map.empty,
        None, filled, Some(spec), None)
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        spec.partitionColumns, dataSchema, None, new ParquetFileFormat,
        Map.empty)(spark))
    }

    /** The data columns `columns` of the files whose first partition
      * value is `values(i)`, as partition i of the result: every file
      * whole, nothing shuffled, rows counted in the tasks' input
      * metrics as a scan counts them. Rows are reused between `next`
      * calls; copy what is kept.
      */
    def readPartitions(values: Seq[Int], columns: Seq[String]): RDD[InternalRow] = {
      val byDir = leaves.values.flatten.toSeq.groupBy(_.getPath.getParent)
      val byValue = spec.partitions.groupBy(_.values.getInt(0)).map { case (v, ps) =>
        v -> ps.flatMap(p => byDir.getOrElse(p.path, Nil))
      }
      val schema = StructType(columns.map(dataSchema(_)))
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, dataSchema, StructType(Nil), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      new FileScanRDD(spark, read, values.zipWithIndex.map { case (v, i) =>
        FilePartition(i, byValue.getOrElse(v, Nil).map(st => PartitionedFile(
          InternalRow.empty, SparkPath.fromPath(st.getPath), 0, st.getLen,
          Array.empty[String], st.getModificationTime, st.getLen)).toArray)
      }, schema)
    }
  }

  /** `t` with every nested field, element and value nullable — what a
    * file source reads a written schema as.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Delete pool subdirs whose token appears in none of
    * `referencedDirs` (each a path of the form
    * `root/pool/<token>[/…]`). Callers pass the union of every
    * COMMITTED generation's manifest, so in-flight readers of the
    * retained previous generation keep a complete layout.
    */
  private[graft] def prunePool(spark: SparkSession, root: String,
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

  /** Named scalars as a [[writeLinesFile]] file of `name\tvalue`
    * lines, read back BY NAME ([[readParams]]): a reordered write
    * cannot swap two values. Doubles round-trip exactly.
    */
  private[graft] def writeParams(spark: SparkSession, path: String,
      params: (String, Any)*): Unit =
    writeLinesFile(spark, path, params.map { case (k, v) => s"$k\t$v" })

  private[graft] def readParams(spark: SparkSession,
      path: String): Map[String, String] =
    readLinesFile(spark, path).map(_.split("\t", 2))
      .map(a => a(0) -> a(1)).toMap

  /** A frozen structure of double vectors keyed by ints (centroids,
    * codebook entries) as a [[writeLinesFile]] file of
    * `k1\t…\tkn\tv0,v1,…` lines: read on the driver with no Spark
    * job, and exact — `Double.toString` round-trips every double.
    */
  private[graft] def writeVectorsFile(spark: SparkSession, path: String,
      rows: Seq[(Seq[Int], Array[Double])]): Unit =
    writeLinesFile(spark, path, rows.map { case (keys, v) =>
      (keys :+ v.mkString(",")).mkString("\t")
    })

  /** The rows of a [[writeVectorsFile]] file, in file order. */
  private[graft] def readVectorsFile(spark: SparkSession,
      path: String): Seq[(Seq[Int], Array[Double])] =
    readLinesFile(spark, path).map { line =>
      val f = line.split("\t", -1)
      (f.init.map(_.toInt).toSeq,
        if (f.last.isEmpty) Array.empty[Double] else f.last.split(",").map(_.toDouble))
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
  private[graft] def publish(spark: SparkSession, root: String)(
      write: String => Unit): String = {
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

  /** The load-side tombstone filter: `df` minus every row whose
    * `idCols` (any one of them) name an id tombstoned in `gen` — the
    * [[snapshot]] of the sidecar folded in, so every probe over a
    * loaded index sees the post-delete corpus with zero changes to the
    * probe path. The ids are read once, here, into a literal set
    * filter: a query over the frame plans no extra job, and a sidecar
    * file written after this call is seen by the next load only. A
    * partition filter on `df` still reaches its scan.
    */
  private[graft] def dropTombstoned(spark: SparkSession, gen: String,
      df: DataFrame, idCols: String*): DataFrame =
    snapshot(spark, gen).fold(df, idCols: _*)

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
    * their ids read once, on the driver (ADVICE r12 — snapshotting ids
    * and anti-joining the sidecar afterwards silently dropped a delete
    * landing in between). Compaction and rebuilds [[fold]] every data
    * rewrite against the same frozen ids and pass `files` as
    * [[publishGen]]'s `folded`: a delete landing mid-compact is
    * carried into the new generation instead of being lost. The
    * sidecar is small by the compaction cadence, so its distinct
    * non-null ids are held as a set.
    */
  private[graft] final case class Snapshot(files: Set[String],
      ids: Seq[Any]) {
    /** `df` without the rows whose `idCols` (any one) hold a snapshot
      * id — a left anti-join on each column: a null id matches no
      * tombstone, so its row is kept.
      */
    def fold(df: DataFrame, idCols: String*): DataFrame =
      if (ids.isEmpty) df
      else idCols.foldLeft(df)((d, c) =>
        d.filter(col(c).isNull || !col(c).isin(ids: _*)))
  }

  /** One Spark job when the sidecar has files (the collect of its
    * ids), none otherwise.
    */
  private[graft] def snapshot(spark: SparkSession, gen: String): Snapshot = {
    val files = tombstoneFiles(spark, gen)
    Snapshot(files,
      if (files.isEmpty) Nil
      else readParquet(spark, files.toSeq).select(col("id")).collect()
        .iterator.map(_.get(0)).filter(_ != null).toSeq.distinct)
  }
}
