package graft.similarity

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.VectorOps
import graft.tools.Scratch

/** [[IvfIndex.topK]] serves from per-cell blocks; the SQL probe it
  * replaced — cell cut, cosine, `orderBy(cosine desc, id)`, `limit` —
  * is kept here as the oracle, and every case must equal it row for
  * row, schema included.
  */
class IvfServeSpec extends SparkTestBase {
  import spark.implicits._

  private def oracle(idx: IvfIndex.Index, q: Seq[Float], k: Int,
      nProbe: Int): DataFrame = {
    val probes = Similarity.nearestCentroids(idx.centroids, q, nProbe)
    val cos = VectorOps.cosineFor(idx.corpus, idx.vecCol)
    idx.corpus
      .filter(col("cell").isin(probes: _*))
      .select(col(idx.idCol), cos(col(idx.vecCol), typedlit(q)).as("cosine"))
      .orderBy(col("cosine").desc, col(idx.idCol))
      .limit(k)
  }

  private def assertServes(idx: IvfIndex.Index, q: Seq[Float], k: Int,
      nProbe: Int): Seq[Row] = {
    val got = IvfIndex.topK(idx, q, k, nProbe)
    val want = oracle(idx, q, k, nProbe)
    assert(got.schema == want.schema)
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq, s"k=$k nProbe=$nProbe q=$q")
    rows
  }

  private val Cells = 4

  /** Every (k, nProbe) shape of interest, for a few queries. */
  private def assertServesAll(idx: IvfIndex.Index, queries: Seq[Seq[Float]]): Unit =
    for (q <- queries; k <- Seq(1, 5, 1000); nProbe <- Seq(1, 2, Cells, Cells + 3))
      assertServes(idx, q, k, nProbe)

  private def vectors(ids: Range, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private lazy val base = vectors(0 until 300, 1).localCheckpoint()
  private lazy val queries: Seq[Seq[Float]] =
    base.orderBy("vec_id").limit(3).as[(Long, Seq[Float])].collect().map(_._2).toSeq :+
      Seq.fill(8)(0.25f)

  private def withRoot(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("ivf_serve")
      .toAbsolutePath.toString
    try body(root) finally Scratch.deleteRecursively(new java.io.File(root))
  }

  private def saved(root: String, df: DataFrame = base): Unit =
    IvfIndex.save(IvfIndex.build(df, "vec_id", "embedding", nCentroids = Cells,
      iters = 1), root)

  private def load(root: String) = IvfIndex.load(spark, root, "vec_id", "embedding")

  test("a fresh load serves the oracle's rows") {
    withRoot { root =>
      saved(root)
      assertServesAll(load(root), queries)
    }
  }

  test("a built, never saved index serves the oracle's rows") {
    val idx = IvfIndex.build(base, "vec_id", "embedding", nCentroids = Cells, iters = 1)
    try assertServesAll(idx, queries) finally idx.unpersist()
  }

  test("after a delete, two appendPublishes and a compact") {
    withRoot { root =>
      saved(root)
      val top = assertServes(load(root), queries.head, 5, 2)
      IvfIndex.delete(spark, root, top.take(2).map(_.getLong(0)).toDF("vec_id"),
        "vec_id")
      val deleted = load(root)
      assertServesAll(deleted, queries)
      assert(!IvfIndex.topK(deleted, queries.head, 5, 2).collect()
        .exists(r => top.take(2).contains(r)))
      IvfIndex.appendPublish(spark, root, vectors(300 until 340, 2), "vec_id",
        "embedding")
      assertServesAll(load(root), queries)
      IvfIndex.appendPublish(spark, root, vectors(400 until 440, 3), "vec_id",
        "embedding")
      assert(IvfIndex.corpusDirs(spark, root).size == 3)
      assertServesAll(load(root), queries)
      IvfIndex.compact(spark, root, "vec_id", "embedding")
      assertServesAll(load(root), queries)
    }
  }

  test("zero-norm vectors sort last with a null cosine; equal cosines tie by id") {
    withRoot { root =>
      val zeros = Seq(500L, 501L).map(i => (i, Seq.fill(8)(0.0f)))
      // three more copies of vector 7: equal cosines under three ids
      val copies = base.filter($"vec_id" === 7).as[(Long, Seq[Float])].head()._2
      val twins = Seq(702L, 700L, 701L).map(i => (i, copies))
      saved(root, base.unionAll((zeros ++ twins).toDF("vec_id", "embedding")))
      val idx = load(root)
      assertServesAll(idx, copies +: queries)
      val all = assertServes(idx, copies, 1000, Cells)
      assert(all.takeRight(2).map(_.getLong(0)) == Seq(500L, 501L) &&
        all.takeRight(2).forall(_.isNullAt(1)))
      assert(all.take(4).map(_.getLong(0)) == Seq(7L, 700L, 701L, 702L))
    }
  }

  test("an empty index: built from no rows, and emptied by deletes and a compact") {
    withRoot { root =>
      saved(root, base.limit(0))
      val none = load(root)
      assert(none.centroids.isEmpty)
      assertServes(none, queries.head, 5, 2)
      assert(IvfIndex.topK(none, queries.head, 5, 2).count() == 0)
    }
    withRoot { root =>
      saved(root)
      IvfIndex.delete(spark, root, base.select("vec_id"), "vec_id")
      assertServesAll(load(root), queries)
      IvfIndex.compact(spark, root, "vec_id", "embedding")
      val emptied = load(root)
      assert(emptied.centroids.length == Cells)
      assertServesAll(emptied, queries)
      assert(IvfIndex.topK(emptied, queries.head, 5, Cells).count() == 0)
    }
  }

  test("three threads probe one index while a fourth publishes and loads a new generation") {
    withRoot { root =>
      saved(root)
      val idx = load(root)
      val want = queries.map(q => oracle(idx, q, 5, 2).collect().toSeq)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val probers = (0 until 3).map(t => pool.submit(new Callable[Int] {
          def call(): Int = (0 until 12).map { i =>
            val qi = (t + i) % queries.size
            assert(IvfIndex.topK(idx, queries(qi), 5, 2).collect().toSeq == want(qi))
            1
          }.sum
        }))
        val loader = pool.submit(new Callable[Int] {
          def call(): Int = {
            IvfIndex.appendPublish(spark, root, vectors(300 until 340, 2), "vec_id",
              "embedding")
            val next = load(root)
            assertServes(next, queries.head, 5, 2)
            next.corpus.count().toInt
          }
        })
        assert(probers.map(_.get(5, TimeUnit.MINUTES)).sum == 36)
        assert(loader.get(5, TimeUnit.MINUTES) == 340)
      } finally pool.shutdownNow()
      // the index loaded first still serves its own generation
      assert(IvfIndex.topK(idx, queries.head, 5, 2).collect().toSeq == want.head)
    }
  }

  test("unpersist releases the serving blocks and build's cache") {
    // ids, not sizes: the ContextCleaner may free earlier suites'
    // unreferenced blocks meanwhile
    val sc = spark.sparkContext
    def added(before: collection.Set[Int]) = sc.getPersistentRDDs.keySet -- before
    withRoot { root =>
      saved(root)
      val before = sc.getPersistentRDDs.keySet
      val idx = load(root)
      IvfIndex.topK(idx, queries.head, 5, 2).collect()
      assert(added(before).size == 1)
      idx.unpersist()
      assert(added(before).isEmpty)
    }
    val before = sc.getPersistentRDDs.keySet
    val built = IvfIndex.build(base, "vec_id", "embedding", nCentroids = Cells, iters = 1)
    IvfIndex.topK(built, queries.head, 5, 2).collect()
    assert(added(before).size == 2)
    built.unpersist()
    assert(added(before).isEmpty)
  }
}
