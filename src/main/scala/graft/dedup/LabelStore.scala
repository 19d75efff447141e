package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.Artifacts

/** DURABLE, BUCKETED connected-component label store — the on-disk
  * form of the (id, component) table that [[ConnectedComponents]]
  * computes and [[graft.streaming.CcStream]] maintains (VERDICT r12
  * next-round #1). Before this, the streaming CC state lived only in
  * rotated in-memory snapshots: a restart replayed the whole corpus,
  * and every trigger's relabel was an O(corpus) pass + corpus-sized
  * re-materialization. This store fixes both:
  *
  *  - **Durability**: the label table is generation-published
  *    ([[Artifacts.publish]] commit-marker protocol) — a reader
  *    resolves only complete committed generations, and a restarted
  *    stream resumes from the last committed generation instead of
  *    replaying history.
  *  - **Bucketed layout, touched-bucket-only writes**: rows live in
  *    `nBuckets` hash buckets of their COMPONENT label
  *    (`pmod(component, nBuckets)`). [[appendEdges]] computes the
  *    bounded relabel map ([[ConnectedComponents.deltaRemap]]), reads
  *    ONLY the buckets holding touched components, and writes ONLY
  *    those buckets' new content — per-trigger write cost is
  *    O(Δ + touched buckets), never O(corpus). Untouched buckets'
  *    files are structurally untouchable (asserted in LabelStoreSpec):
  *    the new generation's manifest simply keeps pointing at them.
  *
  * Physical layout (manifest-pool — the Iceberg/Delta snapshot-pointer
  * idea reduced to what a filesystem provides):
  * {{{
  * root/pool/<token>/bucket=N/…parquet       immutable bucket data
  * root/g%08d/{meta,manifest}/…, _COMMITTED  generation = pointer set
  * }}}
  * A generation's `manifest` maps bucket → the pool subdir holding its
  * current rows; buckets absent from the manifest are empty. Data
  * dirs are shared ACROSS generations (an untouched bucket's dir is
  * referenced by both the old and new manifest), which is exactly why
  * delta maintenance stays O(touched) while publishes stay atomic.
  * After each publish, pool dirs referenced by no committed
  * generation are pruned.
  *
  * The Δ-endpoint label lookup — the one read that is keyed by id
  * while the layout is keyed by component — collects the (bounded,
  * micro-batch-sized) endpoint id set and pushes it down as an `isin`
  * literal over the store scan; bucket files are written sorted by id
  * within each bucket. Up to `spark.sql.parquet.pushdown
  * .inFilterThreshold` values the In predicate reaches parquet as
  * per-value row-group point reads; ABOVE the threshold Spark pushes
  * it as a min/max RANGE filter instead (ADVICE r13) — still tight
  * over the id-sorted buckets (row groups outside [min(ids), max(ids)]
  * are skipped), so the lookup is point-read below the threshold and
  * range-pruned above it. The threshold is raised in-scope to 1000
  * for the lookup (past that, literal-plan size costs more than the
  * range scan saves). Past `maxLiteralLookup` endpoints it degrades
  * to a semi join (one narrow two-column scan, no shuffle of the
  * store side).
  *
  * Contract: id and component are LongType (the
  * [[ConnectedComponents]] driver-path contract); labels are min-ids,
  * so [[appendEdges]] here ≡ [[ConnectedComponents.appendEdges]] ≡ a
  * full CC recompute (LabelStoreSpec pins all three equal).
  */
object LabelStore {

  /** Hash bucket of a component label. */
  private def bucketCol(c: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(c, lit(nBuckets.toLong)).cast("int")

  /** bucket → pool subdir for every non-empty bucket under `dataDir`. */
  private def listBucketDirs(spark: SparkSession,
      dataDir: String): Map[Int, String] = {
    val (f, p) = Artifacts.fs(spark, dataDir)
    if (!f.exists(p)) return Map.empty
    f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("bucket="))
        Some(n.stripPrefix("bucket=").toInt -> s"$dataDir/$n")
      else None
    }.toMap
  }

  // meta + manifest are tiny bucket-domain tables written ONCE PER
  // TRIGGER by the streaming CC maintenance loop — plain text files
  // written/read straight through the FileSystem, so they cost no
  // Spark job (optimization r17)
  private def writeGen(spark: SparkSession, root: String, nBuckets: Int,
      manifest: Map[Int, String]): Unit = {
    Artifacts.publish(spark, root) { gen =>
      Artifacts.writeLinesFile(spark, s"$gen/meta", Seq(nBuckets.toString))
      Artifacts.writeLinesFile(spark, s"$gen/manifest",
        manifest.toSeq.sorted.map { case (b, d) => s"$b\t$d" })
    }
    prunePool(spark, root)
  }

  /** The bucket → dir manifest of ONE generation (spec-facing). */
  def manifestOfGen(spark: SparkSession, gen: String): Map[Int, String] =
    manifestOf(spark, gen)._2

  private def manifestOf(spark: SparkSession,
      gen: String): (Int, Map[Int, String]) =
    (Artifacts.readLinesFile(spark, s"$gen/meta").head.trim.toInt,
      Artifacts.readLinesFile(spark, s"$gen/manifest")
        .map(_.split("\t", 2)).map(a => a(0).toInt -> a(1)).toMap)

  /** Drop pool dirs no committed generation references (the previous
    * generation is retained by [[Artifacts.publish]], so its manifest
    * keeps its dirs alive for in-flight readers).
    */
  private def prunePool(spark: SparkSession, root: String): Unit =
    Artifacts.prunePool(spark, root,
      Artifacts.committedGens(spark, root)
        .flatMap(g => manifestOf(spark, g)._2.values))

  private def emptyLabels(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id"), col("id").as("component"))

  private def readDirs(spark: SparkSession,
      dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyLabels(spark)
    else spark.read.parquet(dirs.distinct: _*)
      .select(col("id"), col("component"))

  /** Publish the complete label table as a new generation (initial
    * save or a full rebuild — the retrain-cadence analogue of
    * [[graft.similarity.IvfIndex.save]]). Rows land hash-bucketed by
    * component and sorted by id within each bucket (row-group stats
    * for the endpoint lookups).
    */
  def save(labels: DataFrame, root: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1)
    val spark = labels.sparkSession
    val dataDir = Artifacts.newPoolDir(root)
    labels.select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component"))
      .withColumn("bucket", bucketCol(col("component"), nBuckets))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .write.partitionBy("bucket").parquet(dataDir)
    writeGen(spark, root, nBuckets, listBucketDirs(spark, dataDir))
  }

  /** The complete (id, component) table of the current committed
    * generation — one multi-path scan over the manifest's dirs.
    */
  def load(spark: SparkSession, root: String): DataFrame = {
    val (_, man) = manifestOf(spark, Artifacts.requireGen(spark, root))
    readDirs(spark, man.values.toSeq)
  }

  /** Partition-pruned read: only the named buckets' dirs are opened. */
  def loadBuckets(spark: SparkSession, root: String,
      buckets: Set[Int]): DataFrame = {
    val (_, man) = manifestOf(spark, Artifacts.requireGen(spark, root))
    readDirs(spark,
      man.collect { case (b, d) if buckets(b) => d }.toSeq)
  }

  /** Number of hash buckets the store was created with. */
  def nBucketsOf(spark: SparkSession, root: String): Int =
    manifestOf(spark, Artifacts.requireGen(spark, root))._1

  /** bucket → data dir of the current committed generation — the
    * observability face of the layout (which buckets exist, where
    * their files live), and what the touched-bucket-only-write specs
    * assert against.
    */
  def manifest(spark: SparkSession, root: String): Map[Int, String] =
    manifestOf(spark, Artifacts.requireGen(spark, root))._2

  /** Per-bucket physical size of the current committed generation:
    * (bucket, bytes, files) — one FS listing per manifest dir,
    * nBuckets rows, never a data scan. This is the observable that
    * drives the [[rebucket]] cadence (the skewRatio-style contract
    * every serving index carries): per-trigger write cost is
    * O(Δ + touched buckets × bucket bytes), so once buckets fatten
    * past the band the touched-fraction economics erode even though
    * the COUNT of touched buckets stays small.
    */
  def bucketBytes(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (_, man) = manifestOf(spark, Artifacts.requireGen(spark, root))
    man.toSeq.sorted.map { case (b, dir) =>
      val (f, p) = Artifacts.fs(spark, dir)
      val st = f.listStatus(p).toSeq.filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet"))
      (b, st.map(_.getLen).sum, st.size)
    }.toDF("bucket", "bytes", "files")
  }

  /** Mean bucket bytes — the single gauge an operator compares to the
    * target band (parquet row-group-sized buckets, a few MB–tens of
    * MB, keep endpoint point-reads and touched-bucket rewrites cheap).
    * Production cadence: [[appendEdges]]/[[removeIds]] while the mean
    * holds, [[rebucket]] to ≈ totalBytes/targetBucketBytes buckets
    * when it crosses — a store growing 100× then keeps per-trigger
    * writes ∝ touched FRACTION instead of drifting toward
    * O(corpus/nBuckets) bytes per trigger (VERDICT r13 next-round #5).
    */
  def meanBucketBytes(spark: SparkSession, root: String): Double = {
    val rows = bucketBytes(spark, root).agg(
      avg(col("bytes")).cast("double")).collect()(0)
    if (rows.isNullAt(0)) 0.0 else rows.getDouble(0)
  }

  /** Bucket-count MIGRATION (VERDICT r13 next-round #5): re-hash the
    * complete label table into `newBuckets` buckets and publish the
    * re-hashed layout as ONE new committed generation over a fresh
    * pool dir — identity on (id, component) (spec-pinned), atomic to
    * readers (a concurrent [[load]] resolves the old or new
    * generation, never a mix), and every subsequent [[appendEdges]]/
    * [[removeIds]]/lookup banks on the new width automatically (they
    * read nBuckets from the generation's meta). One full rewrite —
    * the point of the [[meanBucketBytes]] cadence is that it runs
    * rarely (each migration restores ~100× of touched-fraction
    * headroom at the growth rate that triggered it).
    */
  def rebucket(spark: SparkSession, root: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1)
    val labels = load(spark, root)
    val dataDir = Artifacts.newPoolDir(root)
    labels.withColumn("bucket", bucketCol(col("component"), newBuckets))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .write.partitionBy("bucket").parquet(dataDir)
    writeGen(spark, root, newBuckets, listBucketDirs(spark, dataDir))
  }

  /** Delta-CC label maintenance against the durable store — the
    * [[ConnectedComponents.appendEdges]] semantics with O(Δ + touched
    * buckets) I/O: endpoint lookups are literal-pruned point reads,
    * the relabel map is Δ-bounded, and only buckets holding touched
    * components (or receiving rows) are read and rewritten; every
    * other bucket's files pass through to the new generation's
    * manifest untouched. Publishes a new committed generation; a
    * concurrent [[load]] sees the old or new generation, never a mix.
    * Idempotent: re-applying already-merged edges publishes an
    * identical label table (the relabel map degenerates to identity),
    * which is what makes at-least-once stream replays safe.
    */
  def appendEdges(spark: SparkSession, root: String, newEdges: DataFrame,
      maxIter: Int = 20, maxLocalEdges: Long = 1L << 20,
      maxLiteralLookup: Int = 100000): Unit = {
    val gen = Artifacts.requireGen(spark, root)
    val (nB, man) = manifestOf(spark, gen)
    val all = readDirs(spark, man.values.toSeq)
    val edges = newEdges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // Δ endpoints: bounded by the batch; materialized once
    val eps = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
      .localCheckpoint()
    val nEps = eps.count()
    if (nEps == 0) return // empty trigger: nothing to publish
    // id-keyed lookup over the component-keyed layout: literal isin
    // (point-read / range-pruned over the id-sorted buckets — see the
    // header) below the gate, a narrow semi join above it; the
    // parquet In-pushdown threshold is raised in-scope so mid-sized
    // batches keep per-value row-group pruning (ADVICE r13)
    val lookup = graft.streaming.ConfScope.withConf(spark,
      "spark.sql.parquet.pushdown.inFilterThreshold", "1000") {
      (if (nEps <= maxLiteralLookup) {
        val ids = eps.collect().map(_.getLong(0))
        all.filter(col("id").isin(ids: _*))
      } else all.join(eps, Seq("id"), "left_semi"))
        .localCheckpoint() // bounded (⊆ endpoints); read ≥3 times below
    }
    val remap = ConnectedComponents.deltaRemap(
      lookup, edges, maxIter, maxLocalEdges)
    // ids Δ introduced (never seen in the store) and their merged
    // labels; a self-edge-only new id falls back to itself
    val newRows = eps.join(lookup.select(col("id")), Seq("id"), "left_anti")
      .join(remap, col("id") === col("_old"), "left")
      .select(col("id"), coalesce(col("_new"), col("id")).as("component"))
      .localCheckpoint() // bounded (⊆ endpoints)
    // touched buckets: where remapped rows leave, arrive, or new rows
    // land — a ≤ nBuckets collect
    val tB = remap.select(bucketCol(col("_old"), nB).as("b"))
      .union(remap.select(bucketCol(col("_new"), nB).as("b")))
      .union(newRows.select(bucketCol(col("component"), nB).as("b")))
      .distinct().collect().map(_.getInt(0)).toSet
    if (tB.isEmpty) return
    // CLOSURE: a row leaves bucket(_old) only for bucket(_new); both
    // are in tB, so rewriting exactly tB's content is complete
    val remapH =
      if (remap.count() <= 1_000_000L) broadcast(remap) else remap
    val touched = readDirs(spark,
      man.collect { case (b, d) if tB(b) => d }.toSeq)
    val updated = touched
      .join(remapH, col("component") === col("_old"), "left")
      .select(col("id"),
        coalesce(col("_new"), col("component")).as("component"))
      .unionAll(newRows)
      .withColumn("bucket", bucketCol(col("component"), nB))
    val deltaDir = Artifacts.newPoolDir(root)
    updated.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .write.partitionBy("bucket").parquet(deltaDir)
    // buckets in tB that came out empty drop from the manifest
    writeGen(spark, root, nB,
      (man -- tB) ++ listBucketDirs(spark, deltaDir))
  }

  /** TAKEDOWN through the bucketed layout (VERDICT r12 next-round #4):
    * delete the nodes in `ids` (col id) from the stored label table,
    * recomputing only the components they touch —
    * [[ConnectedComponents.removeNodes]] semantics with
    * O(|ids| + touched buckets) I/O. `edges` is the graph's CURRENT
    * edge table (cols a, b — e.g. re-derived from the surviving
    * documents' content, or the near-dup pair log); only its rows
    * inside touched components are read, via one semi-join pass.
    * Deleted ids never reappear in any later generation — the touched
    * buckets are REWRITTEN without them (no sidecar to resurrect
    * from); a subsequent [[appendEdges]] re-admits an id only if new
    * edges genuinely reference it. Publishes a new committed
    * generation; untouched buckets pass through by reference, exactly
    * like [[appendEdges]].
    */
  def removeIds(spark: SparkSession, root: String, ids: DataFrame,
      edges: DataFrame, maxIter: Int = 20,
      maxLocalEdges: Long = 1L << 20,
      maxLiteralLookup: Int = 100000): Unit = {
    val gen = Artifacts.requireGen(spark, root)
    val (nB, man) = manifestOf(spark, gen)
    val all = readDirs(spark, man.values.toSeq)
    val del = ids.select(col("id").cast("long").as("id")).distinct()
      .localCheckpoint()
    val nDel = del.count()
    if (nDel == 0) return
    // labels of the deleted ids: the id-keyed lookup again (same
    // pushdown-threshold scope as appendEdges')
    val delLabels = graft.streaming.ConfScope.withConf(spark,
      "spark.sql.parquet.pushdown.inFilterThreshold", "1000") {
      (if (nDel <= maxLiteralLookup) {
        val idArr = del.collect().map(_.getLong(0))
        all.filter(col("id").isin(idArr: _*))
      } else all.join(del, Seq("id"), "left_semi"))
        .localCheckpoint()
    }
    val touched = delLabels.select(col("component")).distinct()
      .localCheckpoint() // bounded by |ids|
    val tcB = touched.select(bucketCol(col("component"), nB).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    if (tcB.isEmpty) return // none of the ids exist: no-op
    val tcH = broadcast(touched)
    // member rows of the touched components: a bucket-pruned read
    val members = readDirs(spark,
      man.collect { case (b, d) if tcB(b) => d }.toSeq)
      .join(tcH, Seq("component"), "left_semi")
      .localCheckpoint() // component-size-bounded; read by 3 legs
    val replacement = ConnectedComponents
      .recomputeTouched(members, edges, del, maxIter, maxLocalEdges)
      .localCheckpoint() // bounded: the touched comps' new labels
    // splits can MOVE the label to a new min id — arrivals widen the
    // touched-bucket set beyond the old components' buckets
    val tB = tcB ++ replacement
      .select(bucketCol(col("component"), nB).as("b"))
      .distinct().collect().map(_.getInt(0))
    val newContent = readDirs(spark,
      man.collect { case (b, d) if tB(b) => d }.toSeq)
      .join(tcH, Seq("component"), "left_anti") // untouched comps stay
      .select(col("id"), col("component")) // USING join reordered cols
      .unionAll(replacement)
      .withColumn("bucket", bucketCol(col("component"), nB))
    val deltaDir = Artifacts.newPoolDir(root)
    newContent.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .write.partitionBy("bucket").parquet(deltaDir)
    writeGen(spark, root, nB,
      (man -- tB) ++ listBucketDirs(spark, deltaDir))
  }
}
