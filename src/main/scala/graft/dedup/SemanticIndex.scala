package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.Artifacts

/** Build-once / classify-many SEMANTIC near-dup index — the durable
  * artifact of [[Dedup.semanticBlocking]] PLUS the pre-blocked corpus
  * ([[Dedup.blockCorpus]]'s output), completing the durable serving
  * quartet with [[MinHashIndex]] (lexical), [[graft.similarity.IvfIndex]]
  * (vectors) and [[graft.similarity.PqIndex]] (compressed vectors).
  * Before this artifact the frozen blocking died with the JVM and —
  * worse — [[Dedup.semanticClassify]] re-derived the corpus-side
  * (block, sb) assignment on EVERY call: an O(corpus × cell-reps)
  * join that a per-batch ingest path must not pay. Here that
  * assignment is computed once at [[build]], persisted, and every
  * [[classify]] serves it as a plain parquet scan — per-call cost is
  * the batch's own assignment plus its (block, sb) collisions,
  * constant in corpus size.
  *
  * Layout: `centroids/` — (cell, cv), the coarse ⌈√k⌉ Lloyd centers
  * (bounded: ⌈√k⌉ × dim doubles, collected at load as the assignment
  * literal); `reps/` — (cluster, rep, repv), the deduped quota reps
  * every fine assignment joins; `corpus/` — (id, vec, block, sb), the
  * corpus-sized pre-blocked candidate table; `params/` — one row
  * pinning (block_size, sign_bits, threshold) read back BY NAME so a
  * probe can never silently bucket differently than the index it
  * probes.
  *
  * Frozen-structure contract (the [[graft.similarity.IvfIndex]]
  * semantics, NOT [[MinHashIndex]]'s): centroids and reps are trained
  * on the build-time corpus, so [[appendPublish]]/[[delete]] keep
  * classify ≡ the frozen structure applied to the updated corpus —
  * not ≡ a retrained rebuild (which would re-run Lloyd and re-pick
  * reps).
  * [[occupancy]]/[[skewRatio]] are the drift observables that drive
  * the retrain cadence, exactly IvfIndex's economics applied to the
  * dedup blocking.
  *
  * At 100 TB: `corpus/` is corpus-sized but written once; a daily
  * batch pays one broadcast-able (block, sb) join against it. Appends
  * write only Δ's rows; deletes are an O(|ids|) tombstone append
  * consulted at load.
  */
object SemanticIndex {

  /** `corpusBlocked`: (idCol, vecCol, block, sb) — lazy plan (fresh
    * [[build]]) or tombstone-filtered parquet scan ([[load]]).
    */
  final case class Index(blocking: Dedup.SemanticBlocking,
      corpusBlocked: DataFrame, idCol: String, vecCol: String,
      threshold: Double)

  /** Train the frozen blocking and pre-block the corpus — the only
    * corpus-scale work of the index's life. `corpusCount` feeds
    * [[Dedup.semanticBlocking]]'s k-sizing from table stats / the
    * ingest ledger instead of a scan.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockSize: Int = 64, signBits: Int = 6,
      corpusCount: Option[Long] = None): Index = {
    val blocking = Dedup.semanticBlocking(corpus, idCol, vecCol, threshold,
      blockSize, signBits, corpusCount)
    Index(blocking,
      Dedup.blockCorpus(blocking, corpus, idCol, vecCol, signBits),
      idCol, vecCol, threshold)
  }

  /** Atomic publish in the MANIFEST-POOL layout (VERDICT r13
    * next-round #4 — the [[graft.similarity.IvfIndex.save]] protocol
    * for the semantic blocking index): the corpus-sized pre-blocked
    * table lands in an immutable pool dir referenced by an (ord, dir)
    * `corpus_dirs` manifest, and the FROZEN reps land in their own
    * pool dir referenced by `reps_dirs` — maintenance publishes carry
    * both by reference, so [[appendPublish]] writes Δ bytes only (the
    * reps — ≈ corpus/blockSize rows — are never recopied). Centroids
    * and params (bounded) live inside the generation. A rebuild
    * racing a concurrent [[load]] can never be read torn.
    */
  def save(index: Index, path: String): Unit =
    publishBuilt(index, path, parent = None, Set.empty, tag = None)

  private val CorpusDirs = "corpus_dirs"
  private val RepsDirs = "reps_dirs"

  /** One generation for a freshly built index: reps and corpus in
    * their own pool dirs, centroids and params written into it.
    */
  private def publishBuilt(index: Index, path: String,
      parent: Option[String], folded: Set[String],
      tag: Option[String]): Unit = {
    val spark = index.corpusBlocked.sparkSession
    val b = index.blocking
    Artifacts.publishGen(spark, path,
      Seq(RepsDirs -> Seq(Artifacts.writePool(b.reps, path)),
        CorpusDirs -> Seq(Artifacts.writePool(index.corpusBlocked, path))),
      parent = parent, folded = folded, tag = tag,
      write = { gen =>
        Artifacts.writeVectorsFile(spark, s"$gen/centroids",
          b.centroids.toSeq.zipWithIndex.map { case (cv, i) => (Seq(i), cv) })
        Artifacts.writeParams(spark, s"$gen/params", "block_size" -> b.blockSize,
          "sign_bits" -> b.signBits, "threshold" -> index.threshold)
      })
  }

  private def readCorpus(spark: SparkSession, path: String,
      gen: String): DataFrame =
    Artifacts.readParquet(spark, Artifacts.dirsOf(spark, path, gen, CorpusDirs))

  /** The frozen halves only (params/centroids/reps — everything Δ
    * assignment needs, nothing corpus-sized): shared by [[load]] and
    * [[appendPublish]] so an append never touches the corpus table.
    * Read on the driver, no Spark job.
    */
  private def loadBlocking(spark: SparkSession, path: String,
      gen: String): (Dedup.SemanticBlocking, Double) = {
    // by NAME, not position: a reordered save must never swap
    // block_size/sign_bits
    val p = Artifacts.readParams(spark, s"$gen/params")
    val centroids = Artifacts.readVectorsFile(spark, s"$gen/centroids")
      .sortBy(_._1.head).map(_._2).toArray
    val blocking = Dedup.SemanticBlocking(centroids,
      Artifacts.readParquet(spark, Artifacts.dirsOf(spark, path, gen, RepsDirs)),
      p("block_size").toInt, p("sign_bits").toInt)
    (blocking, p("threshold").toDouble)
  }

  /** Open the current committed generation: no Spark job, one with
    * tombstones (the read of the sidecar's ids).
    */
  def load(spark: SparkSession, path: String, idCol: String,
      vecCol: String): Index = {
    val gen = Artifacts.requireGen(spark, path)
    val (blocking, threshold) = loadBlocking(spark, path, gen)
    Index(blocking, Artifacts.dropTombstoned(spark, gen,
      readCorpus(spark, path, gen), idCol), idCol, vecCol, threshold)
  }

  /** Logical delete (takedowns/retractions):
    * [[graft.tools.Artifacts.delete]] appends the ids to the tombstone
    * sidecar; no corpus/rep file is touched (spec-asserted). After a
    * delete, [[classify]] ≡ the FROZEN structure applied to corpus ∖
    * ids — a deleted id can never be `dup_of` — but NOT ≡ a retrained
    * rebuild (a rep whose source vector is deleted stays as block
    * GEOMETRY; that is the frozen-centroid contract, and [[skewRatio]]
    * is the observable that says when to retrain). [[compact]] folds
    * the sidecar in on the retrain cadence.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit =
    Artifacts.delete(spark, path, ids, idCol)

  /** Fold tombstones into the layout AND collapse the manifest:
    * rewrite the corpus minus the snapshotted tombstone ids into ONE
    * fresh pool dir, publish a new generation pointing at it. The
    * tombstone snapshot is FILE-level ([[graft.tools.Artifacts
    * .snapshot]]): a delete() landing mid-compact is carried forward
    * into the new generation's sidecar instead of being resurrected
    * or lost. Centroids and reps stay frozen (the reps pool dir passes
    * by reference).
    */
  def compact(spark: SparkSession, path: String, idCol: String,
      vecCol: String): Unit = {
    val gen = Artifacts.requireGen(spark, path)
    val snap = Artifacts.snapshot(spark, gen)
    val pool = Artifacts.writePool(
      snap.fold(readCorpus(spark, path, gen), idCol), path)
    Artifacts.publishGen(spark, path,
      Seq(RepsDirs -> Artifacts.dirsOf(spark, path, gen, RepsDirs),
        CorpusDirs -> Seq(pool)),
      parent = Some(gen), folded = snap.files,
      copy = Seq("centroids", "params"))
  }

  /** The operational RETRAIN face — what the [[skewRatio]] cadence
    * calls (VERDICT r16 next-round #1): re-train the blocking
    * (coarse Lloyd centers + quota reps) over the artifact's own
    * CURRENT live corpus (tombstones folded at the file-level
    * snapshot — the published generation starts with a clean
    * sidecar), re-block every vector, and commit one atomic
    * generation with the optional idempotency `tag`. Params
    * (block_size / sign_bits / threshold) are read back from the
    * committed generation, so the retrain changes the STRUCTURE to
    * fit the drifted corpus, never the contract.
    */
  def rebuildPublish(spark: SparkSession, path: String, idCol: String,
      vecCol: String, tag: Option[String] = None): Unit = {
    val gen = Artifacts.requireGen(spark, path)
    val snap = Artifacts.snapshot(spark, gen)
    val live = snap.fold(
      readCorpus(spark, path, gen).select(col(idCol), col(vecCol)), idCol)
    val p = Artifacts.readParams(spark, s"$gen/params")
    val idx = build(live.localCheckpoint(), idCol, vecCol,
      p("threshold").toDouble, p("block_size").toInt, p("sign_bits").toInt)
    publishBuilt(idx, path, Some(gen), snap.files, tag)
  }

  /** Incremental maintenance: assign ONLY the new vectors through the
    * frozen centroids + reps, write their (block, sb) rows into a
    * fresh immutable pool dir and commit a NEW generation whose
    * manifest = the parent's corpus dirs + the Δ dir (reps carried by
    * reference, centroids and params byte-copied, tombstones carried
    * forward) — cost ∝ |newVectors|, no corpus re-read, no rewrite of
    * existing files (spec-asserted). Classify over the appended index
    * ≡ the frozen structure applied to corpus ∪ Δ (SemanticIndexSpec
    * pins it); as Δ drifts from the build distribution, [[skewRatio]]
    * climbs and the answer is a retrain, not more appends. A
    * concurrent [[load]] resolves the parent or the child generation,
    * never a mix — the per-trigger ingest shape
    * [[graft.streaming.IndexMaintStream]] drives.
    */
  def appendPublish(spark: SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String,
      tag: Option[String] = None): Unit = {
    val gen = Artifacts.requireGen(spark, path)
    val (blocking, _) = loadBlocking(spark, path, gen)
    val pool = Artifacts.writePool(Dedup.blockCorpus(blocking, newVectors,
      idCol, vecCol, blocking.signBits), path)
    Artifacts.publishGen(spark, path,
      Seq(RepsDirs -> Artifacts.dirsOf(spark, path, gen, RepsDirs),
        CorpusDirs -> (Artifacts.dirsOf(spark, path, gen, CorpusDirs) :+ pool)),
      parent = Some(gen), copy = Seq("centroids", "params"), tag = tag)
  }

  /** Classify a batch against the indexed corpus — identical
    * semantics to [[Dedup.semanticIncremental]] with the corpus side
    * served from the saved layout (Dedup.classifyBlocked is the one
    * shared tail; SemanticIndexSpec pins the equality). τ comes from
    * the artifact: the reps were DEDUPED at the build threshold, so a
    * looser τ at probe time would re-open the split-pair recall hole
    * the rep dedup closed.
    */
  def classify(index: Index, batch: DataFrame): DataFrame =
    Dedup.classifyBlocked(index.blocking, index.corpusBlocked, batch,
      index.idCol, index.vecCol, index.threshold,
      index.blocking.signBits)

  /** Candidate-block occupancy: (block, sb, n) for every non-empty
    * candidate bucket — n is exactly the verify-join fan-out a batch
    * row landing in that bucket pays. Expected n ≲ blockSize by the
    * quota construction; appends concentrate where the frozen reps
    * are dense, so drift shows up here first. One corpus-domain
    * aggregate (≈ n/blockSize rows), never all-pairs.
    */
  def occupancy(index: Index): DataFrame =
    index.corpusBlocked.groupBy(col("block"), col("sb"))
      .agg(count(lit(1)).as("n"))

  /** Drift diagnostic over [[occupancy]]: maxBucket / blockSize —
    * the design guarantee is "expected bucket ≈ blockSize" (the quota
    * construction), so ≤ ~1 is healthy and the sb subdivision
    * typically keeps it below. NOT max/mean (IvfIndex's gauge): the
    * sign-bucket split leaves many small buckets, so the mean is not
    * the design target here — blockSize is. Climbing under appends
    * means some frozen block is absorbing the drift: its verify
    * fan-out grows as C(n, batch-hits) and its rep no longer
    * describes its members (recall). Retrain when it crosses the 2–4
    * band, the [[graft.similarity.IvfIndex.skewRatio]] cadence.
    * Bounded: one aggregate over the occupancy.
    */
  def skewRatio(index: Index): Double = {
    val occ = occupancy(index).agg(
      max(col("n")).cast("double").as("mx")).collect()(0)
    if (occ.isNullAt(0)) 0.0
    else occ.getDouble(0) / index.blocking.blockSize
  }
}
