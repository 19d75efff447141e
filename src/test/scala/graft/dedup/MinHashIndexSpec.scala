package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class MinHashIndexSpec extends SparkTestBase {

  /** Physical-layout assertions address the CURRENT COMMITTED
    * generation (save publishes by commit marker since r12). */
  /** All files across the current generation's part pool dirs for one
    * side, keyed dir-qualified. */
  private def sideFiles(root: String, side: String): Map[String, Long] =
    graft.tools.Artifacts.dirsOf(spark, root,
      graft.tools.Artifacts.requireGen(spark, root), "part_dirs").flatMap { d =>
      val local = graft.tools.Artifacts.localPath(d)
      allFiles(s"$local/$side").map { case (k, v) => (s"$d/$side/$k", v) }
    }.toMap

  private def gen(root: String): String = {
    // currentGen returns a fully-qualified URI (file:/…); the file
    // helpers here want the plain filesystem path
    val g = graft.tools.Artifacts.currentGen(spark, root).get
    new java.net.URI(g).getPath
  }
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("minhash_index").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** EVERY regular file as relative path → size (the IvfIndexSpec
    * frozen-layout helper: a same-shape rewrite must fail too).
    */
  private def allFiles(path: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(path)
    val out = scala.collection.mutable.Map.empty[String, Long]
    val stream = java.nio.file.Files.walk(base)
    try stream.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        out(base.relativize(p).toString) = java.nio.file.Files.size(p)
    } finally stream.close()
    out.toMap
  }

  // overlapping-vocab docs: cross-doc shingle collisions and several
  // exact >= 0.5 pairs, the same planting as DedupSpec's equality test
  private def doc(g: Long) =
    (g, (0 until 12).map(w => s"w${(g * 5 + w * 3) % 17}").mkString(" "))
  private lazy val corpus = (0L until 16L).map(doc).toDF("doc_id", "text")
  // Δ uses a DISJOINT vocabulary: with min-id resolution a Δ match
  // can only surface for a batch doc that matches NOTHING in the
  // low-id corpus — batch 105 below is an exact copy of Δ doc 17
  private def deltaDoc(g: Long) =
    (g, (0 until 12).map(w => s"x${(g * 5 + w * 3) % 17}").mkString(" "))
  private lazy val delta = (16L until 20L).map(deltaDoc).toDF("doc_id", "text")
  private lazy val batch =
    ((100L until 105L).map(doc) :+ (105L, deltaDoc(17L)._2))
      .toDF("doc_id", "text")

  test("classify on a saved+loaded index equals the direct incremental classify") {
    val path = tmpDir()
    MinHashIndex.save(MinHashIndex.build(corpus, "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2), path)
    val loaded = MinHashIndex.load(spark, path, "doc_id")
    assert(loaded.shingleK == 3 && loaded.bands == 16 && loaded.rowsPerBand == 2)
    val viaIndex = MinHashIndex.classify(loaded, batch, "doc_id", "text", 0.5)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    val direct = Dedup.minhashIncremental(corpus, batch, "doc_id", "text",
      threshold = 0.5, shingleK = 3, bands = 16, rowsPerBand = 2)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    assert(viaIndex == direct)
    assert(viaIndex.exists(_._2 == "near_dup"), "planting failed: no match at all")
  }

  test("append is delta-only (existing files untouched) and classifies like a rebuild") {
    val path = tmpDir()
    MinHashIndex.save(MinHashIndex.build(corpus, "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2), path)
    val bucketsBefore = sideFiles(path, "buckets")
    val shinglesBefore = sideFiles(path, "shingles")
    val paramsBefore = allFiles(s"${gen(path)}/params")

    MinHashIndex.appendPublish(spark, path, delta, "doc_id", "text")

    // frozen-layout economics: append writes Δ's rows as NEW files,
    // never rewriting the corpus's (path+size identical), and the
    // params artifact is untouched
    val bucketsAfter = sideFiles(path, "buckets")
    val shinglesAfter = sideFiles(path, "shingles")
    bucketsBefore.foreach { case (f, sz) =>
      assert(bucketsAfter.get(f).contains(sz), s"append rewrote bucket file $f")
    }
    shinglesBefore.foreach { case (f, sz) =>
      assert(shinglesAfter.get(f).contains(sz), s"append rewrote shingle file $f")
    }
    assert((bucketsAfter.keySet -- bucketsBefore.keySet).nonEmpty)
    assert(allFiles(s"${gen(path)}/params") == paramsBefore)

    // the hash family is corpus-independent, so append ≡ rebuild
    // EXACTLY (no frozen-centroid caveat): classify against the
    // appended index equals both the rebuilt-index classify and the
    // direct incremental classify over corpus ∪ Δ
    val appended = MinHashIndex.load(spark, path, "doc_id")
    val viaAppended = MinHashIndex.classify(appended, batch, "doc_id", "text", 0.5)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    val union = corpus.union(delta)
    val direct = Dedup.minhashIncremental(union, batch, "doc_id", "text",
      threshold = 0.5, shingleK = 3, bands = 16, rowsPerBand = 2)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    assert(viaAppended == direct)
    // Δ must actually matter: at least one batch doc resolves to a
    // Δ-side id or the append assertion is vacuous
    val corpusOnly = Dedup.minhashIncremental(corpus, batch, "doc_id", "text",
      threshold = 0.5, shingleK = 3, bands = 16, rowsPerBand = 2)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    assert(viaAppended != corpusOnly,
      "Δ changed nothing — pick delta docs that match some batch doc")
  }

  test("delete tombstones: index files untouched, classify equals rebuild without the ids, compact folds in") {
    val path = tmpDir()
    MinHashIndex.save(MinHashIndex.build(corpus, "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2), path)
    val bucketsBefore = sideFiles(path, "buckets")
    val shinglesBefore = sideFiles(path, "shingles")
    def classifyNow(): Seq[(Long, String, Option[Long], Option[Double])] =
      MinHashIndex.classify(MinHashIndex.load(spark, path, "doc_id"),
        batch, "doc_id", "text", 0.5).orderBy("doc_id")
        .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    val full = classifyNow()
    // retract every corpus doc some batch doc resolved to — the
    // classification MUST change (re-resolve or flip to 'new')
    val deleted = full.flatMap(_._3).distinct
    assert(deleted.nonEmpty, "planting failed: nothing matched")
    MinHashIndex.delete(spark, path, deleted.toDF("doc_id"), "doc_id")

    // logical delete: sidecar only, both layouts byte-identical
    assert(sideFiles(path, "buckets") == bucketsBefore, "delete touched buckets")
    assert(sideFiles(path, "shingles") == shinglesBefore, "delete touched shingles")
    val afterDelete = classifyNow()
    assert(afterDelete.flatMap(_._3).intersect(deleted).isEmpty,
      "deleted ids still resolved as dup_of")
    // ≡ the direct incremental classify over the corpus minus the ids
    // (hash family corpus-independent ⇒ delete-then-classify is
    // EXACTLY a rebuild-without, no approximation caveat)
    val rebuilt = Dedup.minhashIncremental(
      corpus.filter(!$"doc_id".isin(deleted: _*)), batch, "doc_id", "text",
      threshold = 0.5, shingleK = 3, bands = 16, rowsPerBand = 2)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    assert(afterDelete == rebuilt)
    assert(afterDelete != full, "delete changed nothing — vacuous test")

    MinHashIndex.compact(spark, path, "doc_id")
    assert(!new java.io.File(s"${gen(path)}/tombstones").exists, "sidecar not dropped")
    assert(sideFiles(path, "buckets") != bucketsBefore, "compact did not rewrite")
    assert(classifyNow() == afterDelete)
  }

  test("occupancy totals the bucket side; skewRatio surfaces a planted mega-bucket") {
    val idx = MinHashIndex.build(corpus, "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2)
    val occ = MinHashIndex.occupancy(idx).collect()
    assert(occ.map(_.getLong(2)).sum == idx.buckets.count(),
      "occupancy must partition the bucket rows exactly")
    assert(occ.forall(_.getLong(2) >= 1))
    val base = MinHashIndex.skewRatio(idx)
    assert(base >= 1.0, s"max/mean cannot be < 1, got $base")

    // a boilerplate flood: 40 exact copies of one doc share EVERY
    // band key, so each of its buckets becomes a mega-bucket — the
    // verify-cost hazard the observable exists to flag
    val copies = (1000L until 1040L).map(i => (i, doc(0)._2))
      .toDF("doc_id", "text")
    val flooded = MinHashIndex.build(corpus.union(copies), "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2)
    // exact copies share every band key: all 41 land in one bucket
    // per band — deterministic, whatever the rest of the corpus does
    val maxBase = MinHashIndex.occupancy(idx)
      .agg(max(col("n"))).collect()(0).getLong(0)
    val maxFlooded = MinHashIndex.occupancy(flooded)
      .agg(max(col("n"))).collect()(0).getLong(0)
    assert(maxFlooded >= 41 && maxBase < 41,
      s"planted mega-bucket invisible: base max=$maxBase flooded max=$maxFlooded")
    assert(MinHashIndex.skewRatio(flooded) > base,
      "the flood must also move the max/mean diagnostic")

    // empty index: defined, zero (not NaN / NPE)
    val empty = MinHashIndex.build(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2)
    assert(MinHashIndex.skewRatio(empty) == 0.0)
  }

  test("docs below the shingle size are excluded from both index sides") {
    val mixed = corpus.union(Seq((999L, "too short")).toDF("doc_id", "text"))
    val idx = MinHashIndex.build(mixed, "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2)
    assert(idx.buckets.filter($"doc_id" === 999L).count() == 0)
    assert(idx.shingles.filter($"doc_id" === 999L).count() == 0)
  }

  test("rebuild publishes atomically: in-flight generation invisible; committed rebuild swaps") {
    val path = tmpDir()
    MinHashIndex.save(MinHashIndex.build(corpus, "doc_id", "text",
      shingleK = 5, bands = 16, rowsPerBand = 2), path)
    val g1 = gen(path)
    def loadedIds() = MinHashIndex.load(spark, path, "doc_id")
      .shingles.select("doc_id").as[Long].collect().toSet
    val ids1 = loadedIds()
    assert(ids1.nonEmpty)
    // in-flight rebuild died mid-write: buckets present, no marker
    delta.limit(2).write.parquet(s"$path/g00000001/buckets")
    assert(gen(path) == g1 && loadedIds() == ids1)
    // completed rebuild over a different corpus swaps cleanly
    MinHashIndex.save(MinHashIndex.build(delta, "doc_id", "text",
      shingleK = 5, bands = 16, rowsPerBand = 2), path)
    val ids2 = loadedIds()
    assert(ids2 == delta.select("doc_id").as[Long].collect().toSet)
    assert(ids2 != ids1 && gen(path).endsWith("g00000002"))
  }
}
