package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SemanticIndexSpec extends SparkTestBase {

  /** Physical-layout assertions address the CURRENT COMMITTED
    * generation (save publishes by commit marker since r12). */
  /** All files across the current generation's corpus pool dirs,
    * keyed dir-qualified. */
  private def corpusFiles(root: String): Map[String, Long] =
    graft.tools.Artifacts.dirsOf(spark, root,
      graft.tools.Artifacts.requireGen(spark, root), "corpus_dirs").flatMap { d =>
      val local = graft.tools.Artifacts.localPath(d)
      allFiles(local).map { case (k, v) => (s"$d/$k", v) }
    }.toMap

  private def repsFiles(root: String): Map[String, Long] = {
    val d = graft.tools.Artifacts.dirsOf(spark, root,
      graft.tools.Artifacts.requireGen(spark, root), "reps_dirs").head
    allFiles(graft.tools.Artifacts.localPath(d))
      .map { case (k, v) => (s"$d/$k", v) }
  }

  private def gen(root: String): String = {
    // currentGen returns a fully-qualified URI (file:/…); the file
    // helpers here want the plain filesystem path
    val g = graft.tools.Artifacts.currentGen(spark, root).get
    new java.net.URI(g).getPath
  }
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("semantic_index").toFile
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

  // one-hot plants: pairwise-orthogonal corpus (cosine 0 < τ between
  // distinct axes — EXACT, no near-threshold luck), so matches happen
  // only where a copy is planted
  private def basis(i: Int): Seq[Float] =
    (0 until 8).map(j => if (j == i) 1f else 0f)
  private lazy val corpus =
    (1L to 7L).map(g => (g, basis(g.toInt))).toDF("vec_id", "embedding")
  // Δ opens the axis the corpus never occupies: a batch copy of it
  // matches NOTHING pre-append and exactly Δ post-append
  private lazy val delta = Seq((60L, basis(0))).toDF("vec_id", "embedding")
  private lazy val batch = Seq(
    (100L, basis(1)),                        // exact copy → dup_of 1
    (101L, basis(2).map(_ * 0.9f)),          // scaled copy → dup_of 2
    (102L, basis(0)),                        // Δ axis → new until append
    (103L, (0 until 8).map(j => if (j == 3) -1f else 0f))) // anti-axis → new
    .toDF("vec_id", "embedding")
  private val T = 0.35

  private type R = (Long, String, Option[Long], Option[Double])
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[R] =
    df.orderBy("vec_id").as[R].collect().toSeq

  test("classify on a saved+loaded index equals the direct incremental classify") {
    val path = tmpDir()
    SemanticIndex.save(SemanticIndex.build(corpus, "vec_id", "embedding", T), path)
    val loaded = SemanticIndex.load(spark, path, "vec_id", "embedding")
    assert(loaded.threshold == T)
    assert(loaded.blocking.blockSize == 64 && loaded.blocking.signBits == 6)
    val viaIndex = rows(SemanticIndex.classify(loaded, batch))
    val direct = rows(Dedup.semanticIncremental(corpus, batch,
      "vec_id", "embedding", T))
    assert(viaIndex == direct)
    val byId = viaIndex.map(r => r._1 -> r).toMap
    assert(byId(100L)._3.contains(1L) && byId(101L)._3.contains(2L))
    assert(byId(102L)._2 == "new" && byId(103L)._2 == "new")
  }

  test("append is delta-only (existing files untouched) and classifies through the frozen structure") {
    val path = tmpDir()
    SemanticIndex.save(SemanticIndex.build(corpus, "vec_id", "embedding", T), path)
    val corpusBefore = corpusFiles(path)
    val repsBefore = repsFiles(path)
    val centroidsBefore = allFiles(s"${gen(path)}/centroids")

    SemanticIndex.append(spark, path, delta, "vec_id", "embedding")

    // frozen-structure economics: Δ's rows land as NEW corpus files;
    // nothing existing is rewritten and the trained halves
    // (centroids, reps) are byte-identical — append is ingest, not
    // retrain
    val corpusAfter = corpusFiles(path)
    corpusBefore.foreach { case (f, sz) =>
      assert(corpusAfter.get(f).contains(sz), s"append rewrote corpus file $f")
    }
    assert((corpusAfter.keySet -- corpusBefore.keySet).nonEmpty)
    assert(repsFiles(path) == repsBefore, "append touched reps")
    assert(allFiles(s"${gen(path)}/centroids") == centroidsBefore,
      "append touched centroids")

    // classify over the appended index ≡ the FROZEN corpus-trained
    // blocking applied to corpus ∪ Δ (NOT a retrain on the union —
    // the IvfIndex.append contract)
    val appended = SemanticIndex.load(spark, path, "vec_id", "embedding")
    val viaAppended = rows(SemanticIndex.classify(appended, batch))
    val blocking = Dedup.semanticBlocking(corpus, "vec_id", "embedding", T)
    val frozen = rows(Dedup.semanticClassify(blocking, corpus.union(delta),
      batch, "vec_id", "embedding", T))
    assert(viaAppended == frozen)
    // Δ must actually matter: the Δ-axis batch copy flips new → dup
    val byId = viaAppended.map(r => r._1 -> r).toMap
    assert(byId(102L)._2 == "near_dup" && byId(102L)._3.contains(60L),
      "Δ changed nothing — the append assertion is vacuous")
  }

  test("delete tombstones: files untouched, classify equals frozen classify without the ids, compact folds in") {
    val path = tmpDir()
    SemanticIndex.save(SemanticIndex.build(corpus, "vec_id", "embedding", T), path)
    val corpusBefore = corpusFiles(path)
    val repsBefore = repsFiles(path)
    def classifyNow(): Seq[R] =
      rows(SemanticIndex.classify(
        SemanticIndex.load(spark, path, "vec_id", "embedding"), batch))
    val full = classifyNow()
    val deleted = full.flatMap(_._3).distinct
    assert(deleted.nonEmpty, "planting failed: nothing matched")
    SemanticIndex.delete(spark, path, deleted.toDF("vec_id"), "vec_id")

    // logical delete: sidecar only, layout byte-identical (reps stay
    // even where a deleted id WAS a rep — frozen geometry)
    assert(corpusFiles(path) == corpusBefore, "delete touched corpus")
    assert(repsFiles(path) == repsBefore, "delete touched reps")
    val afterDelete = classifyNow()
    assert(afterDelete.flatMap(_._3).intersect(deleted).isEmpty,
      "deleted ids still resolved as dup_of")
    // ≡ the frozen structure applied to corpus ∖ ids (NOT a retrain
    // without them — centroids/reps were trained with the deleted
    // members and stay; skewRatio is the retrain trigger)
    val blocking = Dedup.semanticBlocking(corpus, "vec_id", "embedding", T)
    val frozen = rows(Dedup.semanticClassify(blocking,
      corpus.filter(!$"vec_id".isin(deleted: _*)), batch,
      "vec_id", "embedding", T))
    assert(afterDelete == frozen)
    assert(afterDelete != full, "delete changed nothing — vacuous test")

    SemanticIndex.compact(spark, path, "vec_id", "embedding")
    assert(!new java.io.File(s"${gen(path)}/tombstones").exists, "sidecar not dropped")
    assert(corpusFiles(path) != corpusBefore, "compact did not rewrite")
    assert(classifyNow() == afterDelete)
  }

  test("occupancy covers the corpus and skewRatio reads balance") {
    val idx = SemanticIndex.build(corpus, "vec_id", "embedding", T)
    val occ = SemanticIndex.occupancy(idx).as[(Long, Long, Long)].collect()
    assert(occ.map(_._3).sum == corpus.count(), "occupancy lost rows")
    assert(occ.forall(_._3 >= 1))
    // max/blockSize: the 7-vector corpus's biggest bucket over the
    // 64 design size — tiny by construction, and exactly derivable
    val ratio = SemanticIndex.skewRatio(idx)
    assert(ratio == occ.map(_._3).max.toDouble / 64, s"ratio $ratio")
  }

  test("rebuild publishes atomically: in-flight generation invisible; committed rebuild swaps") {
    val path = tmpDir()
    SemanticIndex.save(SemanticIndex.build(corpus, "vec_id", "embedding",
      threshold = 0.9), path)
    val g1 = gen(path)
    def corpusIds() = SemanticIndex.load(spark, path, "vec_id", "embedding")
      .corpusBlocked.select("vec_id").as[Long].collect().toSet
    val ids1 = corpusIds()
    assert(ids1 == (1L to 7L).toSet)
    // in-flight rebuild died mid-write: partial corpus, no marker
    delta.write.parquet(s"$path/g00000001/corpus")
    assert(gen(path) == g1 && corpusIds() == ids1)
    // completed rebuild over corpus ∪ Δ swaps cleanly
    SemanticIndex.save(SemanticIndex.build(corpus.union(delta),
      "vec_id", "embedding", threshold = 0.9), path)
    assert(corpusIds() == ids1 + 60L)
    assert(gen(path).endsWith("g00000002"))
  }
}
