package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{MinHashIndex, SemanticIndex}
import graft.similarity.{GraphIndex, IvfIndex, PqIndex}
import graft.streaming.IndexMaintStream

/** The five serving indexes behind one small face, for the specs that
  * pin the shared generation lifecycle once for every kind: a tiny
  * seeded base and Δ, how to save, compact and read each index back,
  * and one serve call over it. `live` loads the index and returns the
  * frame its ids are served from.
  */
final case class ServingKind(name: String, kind: IndexMaintStream.Kind,
    base: DataFrame, delta: DataFrame, save: String => Unit,
    compact: String => Unit, live: String => DataFrame,
    serve: String => Long) {
  def liveIds(root: String): Set[Long] = ServingKinds.ids(live(root), kind.idCol)
}

object ServingKinds {

  private def vectors(spark: SparkSession, ids: Range,
      seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding").localCheckpoint()
  }

  private def docs(spark: SparkSession, ids: Range, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong,
      Seq.fill(12)(s"w${rnd.nextInt(40)}").mkString(" ")))
      .toDF("doc_id", "text").localCheckpoint()
  }

  def ids(df: DataFrame, col0: String): Set[Long] =
    df.select(col(col0)).distinct().collect().map(_.getLong(0)).toSet

  private def query(base: DataFrame): Seq[Float] =
    base.orderBy("vec_id").head().getSeq[Float](1)

  def all(spark: SparkSession): Seq[ServingKind] = {
    val vBase = vectors(spark, 0 until 48, 7)
    val vDelta = vectors(spark, 100 until 108, 8)
    val dBase = docs(spark, 0 until 24, 9)
    val dDelta = docs(spark, 100 until 104, 10)
    val q = query(vBase)
    Seq(
      ServingKind("ivf", IndexMaintStream.IvfKind(), vBase, vDelta,
        root => IvfIndex.save(IvfIndex.build(vBase, "vec_id", "embedding",
          nCentroids = 4, iters = 1), root),
        root => IvfIndex.compact(spark, root, "vec_id", "embedding"),
        root => IvfIndex.load(spark, root, "vec_id", "embedding").corpus,
        root => IvfIndex.topK(IvfIndex.load(spark, root, "vec_id",
          "embedding"), q, k = 5, nProbe = 4).count()),
      ServingKind("pq", IndexMaintStream.PqKind(), vBase, vDelta,
        root => {
          val cb = PqIndex.train(vBase, "vec_id", "embedding", m = 2, k = 4,
            iters = 1)
          PqIndex.save(cb, PqIndex.encode(cb, vBase, "vec_id", "embedding"),
            root)
        },
        root => PqIndex.compact(spark, root),
        root => PqIndex.load(spark, root)._2,
        root => {
          val (cb, codes) = PqIndex.load(spark, root)
          PqIndex.topK(cb, codes, vBase.unionAll(vDelta), "vec_id",
            "embedding", q, k = 5, c = 10).count()
        }),
      ServingKind("minhash", IndexMaintStream.MinHashKind(), dBase, dDelta,
        root => MinHashIndex.save(MinHashIndex.build(dBase, "doc_id",
          "text"), root),
        root => MinHashIndex.compact(spark, root, "doc_id"),
        root => MinHashIndex.load(spark, root, "doc_id").shingles,
        root => MinHashIndex.classify(MinHashIndex.load(spark, root,
          "doc_id"), dBase, "doc_id", "text", 0.5)
          .filter(col("dup_of").isNotNull).count()),
      ServingKind("semantic", IndexMaintStream.SemanticKind(), vBase, vDelta,
        root => SemanticIndex.save(SemanticIndex.build(vBase, "vec_id",
          "embedding", threshold = 0.9, blockSize = 8, signBits = 2), root),
        root => SemanticIndex.compact(spark, root, "vec_id", "embedding"),
        root => SemanticIndex.load(spark, root, "vec_id", "embedding")
          .corpusBlocked,
        root => SemanticIndex.classify(SemanticIndex.load(spark, root,
          "vec_id", "embedding"), vBase)
          .filter(col("dup_of").isNotNull).count()),
      ServingKind("graph", IndexMaintStream.GraphKind(m = 4, budget = 24),
        vBase, vDelta,
        root => GraphIndex.saveWithVectors(GraphIndex.build(vBase, "vec_id",
          "embedding", m = 4), vBase, "vec_id", "embedding", root),
        root => GraphIndex.compact(spark, root),
        root => GraphIndex.loadVectors(spark, root).get,
        root => GraphIndex.topK(GraphIndex.load(spark, root),
          GraphIndex.loadVectors(spark, root).get, "vec_id", "embedding", q,
          k = 5, budget = 24).count()))
  }
}
