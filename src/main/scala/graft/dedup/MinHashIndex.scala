package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.Artifacts

/** Build-once / classify-many MinHash+LSH index — the durable-artifact
  * half of [[Dedup.minhashIncremental]], completing the serving trio
  * with [[graft.similarity.IvfIndex]] (vectors) and
  * [[graft.similarity.PqIndex]] (compressed vectors): the corpus side
  * of lexical near-dup classification persisted once and probed by
  * every subsequent ingest batch.
  *
  * Layout: `buckets/` — (band_idx, band_hash, id), the LSH bucket
  * membership each probe joins against; `shingles/` — (id, sh), the
  * distinct k-shingle set per doc that exact-Jaccard verification
  * reads for CANDIDATES ONLY (the bucket join bounds how much of it
  * any batch touches); `params/` — one row pinning (shingle_k, bands,
  * rows_per_band), read back by [[load]]/[[appendPublish]] so a probe
  * can never silently band differently than the index it probes. All
  * band/minhash functions are seed-fixed and corpus-independent, so
  * an appended or freshly-probed side always agrees with the saved
  * one — "frozen" here is structural, not a training choice (unlike
  * IVF centroids, there is nothing to drift; appends never degrade
  * recall).
  *
  * At 100 TB: buckets and shingles are corpus-sized but written once;
  * a daily batch pays one bucket hash-join (shuffle keyed on
  * band_hash — uniform by construction) plus shingle reads bounded by
  * its candidate count. Appends write only Δ's rows into a new pool
  * dir of a new generation (no rewrite), the
  * `refreshStats`/`IvfIndex.appendPublish` economics applied to the
  * lexical index.
  */
object MinHashIndex {

  /** `buckets`: (band_idx, band_hash, idCol); `shingles`: (idCol, sh).
    * Both may be lazy plans (fresh [[build]]) or parquet scans
    * ([[load]]).
    */
  final case class Index(buckets: DataFrame, shingles: DataFrame,
      idCol: String, shingleK: Int, bands: Int, rowsPerBand: Int)

  /** Compute the index sides for a corpus — two narrow projections of
    * one text scan (band keys via the native signature kernel,
    * distinct shingle sets). Docs with < k tokens carry no signature
    * and no shingles; they are excluded from both sides (they can
    * never be a near-dup match).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): Index = {
    val buckets = Dedup.minhashBandKeys(docs, idCol, textCol,
      shingleK, bands, rowsPerBand)
      .select(col("band_idx"), col("band_hash"), col(idCol))
    // shingles yields an EMPTY array (not null) below k tokens —
    // filter both forms, matching the signature kernel's null-drop
    val shingles = docs.select(col(idCol),
      graft.functions.HashExprs.shingles(col(textCol), shingleK).as("sh"))
      .filter(col("sh").isNotNull && size(col("sh")) > 0)
    Index(buckets, shingles, idCol, shingleK, bands, rowsPerBand)
  }

  /** Atomic publish in the MANIFEST-POOL layout (VERDICT r13
    * next-round #4 — the [[graft.similarity.IvfIndex.save]] protocol
    * for the lexical index): both corpus-sized sides land under ONE
    * immutable pool dir (`<pool>/buckets`, `<pool>/shingles`) and the
    * committed generation holds an (ord, dir) `part_dirs` manifest
    * plus the tiny params file — [[appendPublish]] passes frozen
    * part files between generations BY REFERENCE. A rebuild racing a
    * concurrent [[load]] can never be read torn (new params, old
    * buckets).
    */
  def save(index: Index, path: String): Unit = {
    val spark = index.buckets.sparkSession
    Artifacts.publishGen(spark, path,
      Seq(PartDirs -> Seq(writeSides(index.buckets, index.shingles, path))),
      write = gen => Artifacts.writeParams(spark, s"$gen/params",
        "shingle_k" -> index.shingleK, "bands" -> index.bands,
        "rows_per_band" -> index.rowsPerBand))
  }

  private val PartDirs = "part_dirs"

  /** Both sides under ONE fresh pool dir. */
  private def writeSides(buckets: DataFrame, shingles: DataFrame,
      path: String): String = {
    val pool = Artifacts.newPoolDir(path)
    buckets.write.parquet(s"$pool/buckets")
    shingles.write.parquet(s"$pool/shingles")
    pool
  }

  private def readSide(spark: SparkSession, path: String, gen: String,
      side: String): DataFrame =
    Artifacts.readParquet(spark, Artifacts.dirsOf(spark, path, gen, PartDirs)
      .map(d => s"$d/$side"))

  /** The saved (shingle_k, bands, rows_per_band), read BY NAME: a
    * reordered save must never band differently than the saved index.
    */
  private def paramsOf(spark: SparkSession, gen: String): (Int, Int, Int) = {
    val p = Artifacts.readParams(spark, s"$gen/params")
    (p("shingle_k").toInt, p("bands").toInt, p("rows_per_band").toInt)
  }

  /** Open the current committed generation: params, manifest and file
    * listing are read on the driver, so a load starts no Spark job —
    * one with tombstones, the read of the sidecar's ids, which both
    * sides then drop.
    */
  def load(spark: SparkSession, path: String, idCol: String): Index = {
    val gen = Artifacts.requireGen(spark, path)
    val (k, bands, rows) = paramsOf(spark, gen)
    val snap = Artifacts.snapshot(spark, gen)
    def side(name: String) = snap.fold(readSide(spark, path, gen, name), idCol)
    Index(side("buckets"), side("shingles"), idCol, k, bands, rows)
  }

  /** Logical delete (takedowns/retractions — the maintenance
    * operation [[appendPublish]] cannot express):
    * [[graft.tools.Artifacts.delete]] appends the ids to a tombstone
    * sidecar; no bucket or shingle file is touched (spec-asserted).
    * [[load]] consults the sidecar, so classify after a delete behaves
    * EXACTLY like a rebuild without the deleted docs (the hash family
    * is corpus-independent — removing rows changes no other row's
    * keys). [[compact]] folds the sidecar into the layout on the
    * retrain cadence. A tombstoned id stays deleted until compaction —
    * re-ingesting it needs a compact first.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit =
    Artifacts.delete(spark, path, ids, idCol)

  /** Fold the tombstone sidecar into the layout AND collapse the
    * manifest: rewrite buckets and shingles minus the snapshotted
    * tombstone ids into ONE fresh pool dir, publish a new generation
    * pointing at it. The tombstone snapshot is FILE-level
    * ([[graft.tools.Artifacts.snapshot]]): a delete() landing
    * mid-compact is carried forward into the new generation's sidecar
    * instead of being resurrected or lost. Run on the retrain cadence
    * — between compactions deletes stay O(|ids|).
    */
  def compact(spark: SparkSession, path: String, idCol: String): Unit = {
    val gen = Artifacts.requireGen(spark, path)
    val snap = Artifacts.snapshot(spark, gen)
    def side(name: String) = snap.fold(readSide(spark, path, gen, name), idCol)
    val pool = writeSides(side("buckets"), side("shingles"), path)
    Artifacts.publishGen(spark, path, Seq(PartDirs -> Seq(pool)),
      parent = Some(gen), folded = snap.files, copy = Seq("params"))
  }

  /** Incremental maintenance: band + shingle ONLY the new docs under
    * the saved params, write their rows into a fresh immutable pool
    * dir and commit a NEW generation whose manifest = the parent's
    * dirs + the Δ dir (params byte-copied, tombstones carried forward)
    * — cost ∝ |newDocs|, no corpus re-read, no rewrite of existing
    * files (spec-asserted). Because the hash family is
    * corpus-independent, an appended index classifies EXACTLY like a
    * rebuild over corpus ∪ Δ — there is no IVF-style drift to
    * monitor. A concurrent [[load]] resolves the parent or the child
    * generation, never a mix — the per-trigger ingest shape
    * [[graft.streaming.IndexMaintStream]] drives.
    */
  def appendPublish(spark: SparkSession, path: String, newDocs: DataFrame,
      idCol: String, textCol: String, tag: Option[String] = None): Unit = {
    val gen = Artifacts.requireGen(spark, path)
    val (k, bands, rows) = paramsOf(spark, gen)
    val delta = build(newDocs, idCol, textCol, k, bands, rows)
    val pool = writeSides(delta.buckets, delta.shingles, path)
    Artifacts.publishGen(spark, path,
      Seq(PartDirs -> (Artifacts.dirsOf(spark, path, gen, PartDirs) :+ pool)),
      parent = Some(gen), copy = Seq("params"), tag = tag)
  }

  /** Bucket-occupancy view: (band_idx, band_hash, n) over the LSH
    * bucket table — the observable that drives classify COST for the
    * lexical index: a probe doc pays the population of every bucket
    * it collides with (candidate generation is the bucket join;
    * exact-Jaccard verify work is the sum of its buckets'
    * populations). One aggregate over the bucket side; the RESULT is
    * distinct-bucket-sized, so read it through [[skewRatio]] or a
    * top-N, never a collect. Completes observability parity across
    * the serving indexes ([[graft.similarity.IvfIndex.occupancy]] /
    * `SemanticIndex.occupancy` are the vector twins).
    */
  def occupancy(index: Index): DataFrame =
    index.buckets.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("n"))

  /** Hot-bucket diagnostic over [[occupancy]]: max bucket population
    * / mean — ≈1 is the uniform-hash ideal; a climbing ratio means
    * some bucket's verify cost dominates any probe that lands in it
    * (boilerplate-heavy corpora produce exactly this). Unlike IVF
    * there is NO retrain lever — the hash family is
    * corpus-independent, so the mitigations are a per-bucket
    * candidate cap (the `maxBucket` pattern [[Dedup.simhashNearDups]]
    * uses) or tighter banding; this ratio is what tells an operator
    * to reach for one BEFORE a daily batch stalls on a mega-bucket.
    * Bounded: one two-value aggregate over [[occupancy]].
    */
  def skewRatio(index: Index): Double = {
    val occ = occupancy(index).agg(
      max(col("n")).cast("double").as("mx"),
      avg(col("n")).as("mean")).collect()(0)
    if (occ.isNullAt(1) || occ.getDouble(1) == 0.0) 0.0
    else occ.getDouble(0) / occ.getDouble(1)
  }

  /** Classify a batch against the indexed corpus — identical
    * semantics to [[Dedup.minhashIncremental]] with the corpus side
    * served from the saved layout (Dedup.classifyAgainst is the one
    * shared tail; MinHashIndexSpec pins the equality).
    */
  def classify(index: Index, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame =
    Dedup.classifyAgainst(batch, idCol, textCol, threshold,
      index.shingleK, index.bands, index.rowsPerBand,
      index.buckets.select(col("band_idx"), col("band_hash"),
        col(index.idCol).as("cid")),
      index.shingles.select(col(index.idCol).as("cid"),
        col("sh").as("sh_c")))
}
