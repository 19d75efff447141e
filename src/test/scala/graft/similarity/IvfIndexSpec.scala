package graft.similarity

import graft.SparkTestBase

class IvfIndexSpec extends SparkTestBase {

  /** Physical-layout assertions address the CURRENT COMMITTED
    * generation (save publishes by commit marker since r12). */
  private def gen(root: String): String = {
    // currentGen returns a fully-qualified URI (file:/…); the file
    // helpers here want the plain filesystem path
    val g = graft.tools.Artifacts.currentGen(spark, root).get
    new java.net.URI(g).getPath
  }
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("ivf_index").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("build+save+load+topK equals the per-call ivfTopK exactly") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0).select("embedding").as[Seq[Float]].head()

    val perCall = Similarity.ivfTopK(emb, "vec_id", "embedding", q,
      k = 10, nCentroids = 16, nProbe = 4, iters = 2)
      .as[(Long, Double)].collect().toSeq

    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCentroids = 16, iters = 2)
    val path = tmpDir()
    IvfIndex.save(idx, path)
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")

    // same training (shared trainCentroids) ⇒ identical centroids
    assert(loaded.centroids.length == idx.centroids.length)
    loaded.centroids.zip(idx.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b))
    }
    val viaIndex = IvfIndex.topK(loaded, q, k = 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(viaIndex == perCall)
  }

  test("loaded index prunes non-probed cells at the SCAN (PartitionFilters)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 1).select("embedding").as[Seq[Float]].head()
    val path = tmpDir()
    IvfIndex.save(
      IvfIndex.build(emb, "vec_id", "embedding", nCentroids = 8, iters = 1), path)
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")
    val plan = IvfIndex.topK(loaded, q, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    // the cell cut must reach the file source as a partition filter —
    // reading 2 of 8 directories is the IVF scan saving
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell"),
      s"cell predicate did not become a partition filter:\n$plan")
    // and the directory layout really is one dir per cell (a fresh
    // save publishes exactly one pool dir)
    val corpusDir = IvfIndex.corpusDirs(spark, path) match {
      case Seq(one) => one
      case more => fail(s"fresh save should have one corpus dir: $more")
    }
    val dirs = new java.io.File(corpusDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(dirs.length > 2, s"expected cell= partition dirs, got ${dirs.toSeq}")
  }

  private def dataFiles(path: String): Map[String, Long] =
    graft.tools.Scratch.listParquetFiles(path)

  /** EVERY regular file (not just parquet) as relative path → size —
    * for the centroid-dir check, where a stray _SUCCESS/metadata
    * rewrite must also fail the frozen-layout assertion.
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

  test("delete tombstones: corpus files untouched, probe equals frozen-centroid index without the ids, compact folds in") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0).select("embedding").as[Seq[Float]].head()
    val path = tmpDir()
    IvfIndex.save(
      IvfIndex.build(emb, "vec_id", "embedding", nCentroids = 8, iters = 1), path)
    def corpusFiles(): Map[String, Long] = IvfIndex.corpusDirs(spark, path)
      .flatMap(d => allFiles(d).map { case (f, sz) => (s"$d#$f", sz) }).toMap
    val before = corpusFiles()
    val full = IvfIndex.topK(IvfIndex.load(spark, path, "vec_id", "embedding"),
      q, k = 5, nProbe = 2).as[(Long, Double)].collect().toSeq
    // retract the top two hits — the probe MUST change
    val deleted = full.take(2).map(_._1)
    IvfIndex.delete(spark, path, deleted.toDF("vec_id"), "vec_id")

    // logical delete: sidecar only, every corpus file byte-identical
    assert(corpusFiles() == before, "delete touched corpus files")
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")
    val afterDelete = IvfIndex.topK(loaded, q, k = 5, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(afterDelete.map(_._1).intersect(deleted).isEmpty,
      "deleted ids still served")
    // ≡ the SAME frozen centroids over the corpus minus the ids
    // (a retrained rebuild would move cells — deletes must not)
    val manual = IvfIndex.Index(loaded.centroids,
      IvfIndex.corpusDirs(spark, path).map(spark.read.parquet(_))
        .reduce(_ unionAll _)
        .filter(!$"vec_id".isin(deleted: _*)),
      "vec_id", "embedding", pruned = true)
    assert(afterDelete ==
      IvfIndex.topK(manual, q, k = 5, nProbe = 2)
        .as[(Long, Double)].collect().toSeq)
    // cell pruning survives the tombstone anti-join (the greedy
    // regex of the no-tombstone test would match the sidecar scan's
    // own empty PartitionFilters — anchor on the corpus scan's)
    val plan = IvfIndex.topK(loaded, q, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"tombstone join broke partition pruning:\n$plan")

    IvfIndex.compact(spark, path, "vec_id", "embedding")
    assert(!new java.io.File(s"${gen(path)}/tombstones").exists, "sidecar not dropped")
    assert(corpusFiles() != before, "compact did not rewrite")
    assert(IvfIndex.topK(IvfIndex.load(spark, path, "vec_id", "embedding"),
      q, k = 5, nProbe = 2).as[(Long, Double)].collect().toSeq == afterDelete)
  }

  test("append assigns new vectors at frozen centroids; probe equals rebuild at those centroids") {
    val emb = graft.Tables.embeddings(spark, sf)
    // split: build on the low-id 80%, append the high-id 20% (the
    // daily-ingest shape q_dedup_incremental / q_stats_refresh model)
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    assert(delta.count() > 0)

    val path = tmpDir()
    IvfIndex.save(
      IvfIndex.build(base, "vec_id", "embedding", nCentroids = 8, iters = 2), path)
    val centroidsBefore = allFiles(s"${gen(path)}/centroids")
    def corpusFiles(): Map[String, Long] = IvfIndex.corpusDirs(spark, path)
      .flatMap(d => dataFiles(d).map { case (f, sz) => (s"$d#$f", sz) }).toMap
    val before = corpusFiles()

    IvfIndex.append(spark, path, delta, "vec_id", "embedding")

    // --- scanned/written work ∝ Δ: every pre-existing corpus file is
    // untouched (same path, same size — append never rewrites the
    // 80%), and the new files land only in cells Δ occupies
    val after = corpusFiles()
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"append rewrote existing file $f")
    }
    val appended = IvfIndex.load(spark, path, "vec_id", "embedding")
    val deltaCells = appended.corpus.filter($"vec_id" > cut)
      .select("cell").distinct().as[Int].collect().toSet
    val newFiles = (after.keySet -- before.keySet).toSeq
    assert(newFiles.nonEmpty)
    newFiles.foreach { f =>
      val cell = "cell=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)
      assert(cell.exists(deltaCells), s"new file $f outside Δ's cells $deltaCells")
    }
    // centroid artifact untouched (same files incl. non-parquet, same
    // sizes): frozen layout, no retrain — an entry COUNT would miss a
    // same-shape rewrite
    assert(allFiles(s"${gen(path)}/centroids") == centroidsBefore)

    // --- probe equivalence: append(idx, Δ) ≡ rebuild over base ∪ Δ at
    // the SAME frozen centroids (assignment is a pure function of
    // (vector, centroids), so only the layout differs — the probe
    // must not care)
    val rebuilt = IvfIndex.Index(appended.centroids,
      emb.select($"vec_id", $"embedding").withColumn("cell",
        Similarity.cellColumn($"embedding", appended.centroids)),
      "vec_id", "embedding", pruned = false)
    val q = emb.filter($"vec_id" === 3).select("embedding").as[Seq[Float]].head()
    for (nProbe <- Seq(2, 8)) { // a pruned cut AND the exact all-cells probe
      val viaAppend = IvfIndex.topK(appended, q, k = 10, nProbe = nProbe)
        .as[(Long, Double)].collect().toSeq
      val viaRebuild = IvfIndex.topK(rebuilt, q, k = 10, nProbe = nProbe)
        .as[(Long, Double)].collect().toSeq
      assert(viaAppend == viaRebuild, s"nProbe=$nProbe")
    }
    // and an appended vector is actually servable: probing every cell
    // must surface the exact-match duplicate of the query itself
    val qd = delta.select("embedding").as[Seq[Float]].head()
    val hit = IvfIndex.topK(appended, qd, k = 1, nProbe = 8)
      .as[(Long, Double)].collect().head
    assert(hit._2 > 0.9999)
  }

  test("occupancy covers every trained cell and sums to the corpus; skewRatio >= 1") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCentroids = 8, iters = 1)
    val occ = IvfIndex.occupancy(idx).as[(Int, Long)].collect().toMap
    assert(occ.keySet == (0 until 8).toSet) // empties included
    assert(occ.values.sum == emb.count())
    val ratio = IvfIndex.skewRatio(idx)
    assert(ratio >= 1.0) // max/mean is never below 1 on nonempty data
    idx.unpersist()
    // drift mechanics: appending a mass of vectors into ONE cell's
    // region must raise the ratio — the retrain trigger moving
    val skewedCell = occ.maxBy(_._2)._1
    val heavy = idx.corpus.filter($"cell" === skewedCell)
    val drifted = idx.copy(corpus = idx.corpus.union(heavy).union(heavy))
    assert(IvfIndex.skewRatio(drifted) > ratio)
  }

  test("fresh (unsaved) index serves the same ranks as the brute force on probed cells") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 2).select("embedding").as[Seq[Float]].head()
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCentroids = 8, iters = 1)
    val got = IvfIndex.topK(idx, q, k = 10, nProbe = 8) // probe ALL cells
      .select("vec_id").as[Long].collect().toSeq
    idx.unpersist() // never saved ⇒ caller releases the training cache
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == brute) // probing every cell ⇒ exact
  }

  test("rebuild publishes atomically: in-flight generation invisible; committed rebuild swaps; old gen retained") {
    val emb = graft.Tables.embeddings(spark, sf)
    val v1 = emb.filter($"vec_id" < 30)
    val v2 = emb.filter($"vec_id" >= 30 && $"vec_id" < 70)
    val path = tmpDir()
    IvfIndex.save(IvfIndex.build(v1, "vec_id", "embedding",
      nCentroids = 4, iters = 1), path)
    val g1 = gen(path)
    def loadedIds() = IvfIndex.load(spark, path, "vec_id", "embedding")
      .corpus.select("vec_id").as[Long].collect().toSet
    val ids1 = v1.select("vec_id").as[Long].collect().toSet
    assert(loadedIds() == ids1)
    // an in-flight rebuild that died after a partial write: higher
    // generation dir with corpus but NO commit marker — a racing load
    // must keep resolving the committed generation, never the mix
    v2.limit(5).write.parquet(s"$path/g00000001/corpus")
    assert(gen(path) == g1)
    assert(loadedIds() == ids1)
    // the completed rebuild supersedes the stale uncommitted dir
    IvfIndex.save(IvfIndex.build(v2, "vec_id", "embedding",
      nCentroids = 4, iters = 1), path)
    assert(loadedIds() == v2.select("vec_id").as[Long].collect().toSet)
    assert(gen(path).endsWith("g00000002"))
    // previous committed generation retained for in-flight readers —
    // manifest AND every pool dir it references
    graft.tools.Artifacts.dirsOf(spark, path, g1, "corpus_dirs").foreach { d =>
      assert(graft.tools.Artifacts.exists(spark, d), s"pruned $d")
    }
  }
}
