package graft.similarity

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase
import graft.tools.{Artifacts, Scratch}

/** The Spark jobs an IVF load and a probe over it start, counted by a
  * listener. The index has 64 cells in each of two pool dirs: more
  * cell dirs per pool than Spark's 32-path threshold for listing a
  * directory with a distributed job, had the load listed them through
  * Spark.
  */
class IvfLoadJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** (result, jobs started by `body` on this thread). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"ivf-load-jobs-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag))
          n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(l)
    }
  }
  private val Tag = "graft.spec.tag"

  private def vectors(ids: Range, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("ivf_load_jobs")
      .toAbsolutePath.toString
    IvfIndex.save(IvfIndex.build(vectors(0 until 2000, 1), "vec_id",
      "embedding", nCentroids = 64, iters = 1), r)
    IvfIndex.appendPublish(spark, r, vectors(2000 until 3000, 2), "vec_id",
      "embedding")
    r
  }

  override def afterAll(): Unit = {
    Scratch.deleteRecursively(new java.io.File(root))
    super.afterAll()
  }

  private val query = Seq.fill(8)(0.1f)

  test("the fixture has two pool dirs of more than 32 cell dirs each") {
    val dirs = IvfIndex.corpusDirs(spark, root)
    assert(dirs.size == 2)
    dirs.foreach { d =>
      val cells = new java.io.File(Artifacts.localPath(d)).list()
        .count(_.startsWith("cell="))
      assert(cells > 32, s"$d has $cells cell dirs")
    }
  }

  test("a load without tombstones starts no job; topK over it runs one") {
    val (idx, loadJobs) = jobsOf(IvfIndex.load(spark, root, "vec_id", "embedding"))
    assert(loadJobs == 0)
    assert(idx.centroids.length == 64)
    val (hits, topJobs) = jobsOf(IvfIndex.topK(idx, query, k = 5).collect())
    assert(hits.length == 5 && topJobs == 1)
  }

  test("with tombstones: a load starts at most one job, topK exactly one, probeJoin no more than before") {
    val victims = IvfIndex.topK(IvfIndex.load(spark, root, "vec_id",
      "embedding"), query, k = 3).as[(Long, Double)].collect().map(_._1)
    IvfIndex.delete(spark, root, victims.toSeq.toDF("vec_id"), "vec_id")
    val (idx, loadJobs) = jobsOf(IvfIndex.load(spark, root, "vec_id", "embedding"))
    assert(loadJobs <= 1)
    val (hits, topJobs) = jobsOf(IvfIndex.topK(idx, query, k = 5)
      .as[(Long, Double)].collect())
    assert(topJobs == 1)
    assert(hits.length == 5 && hits.map(_._1).intersect(victims).isEmpty)
    val queries = Seq((0L, query), (1L, Seq.fill(8)(-0.1f)))
      .toDF("query_id", "qvec")
    val (probed, probeJobs) = jobsOf(IvfIndex.probeJoin(idx, queries,
      "query_id", "qvec", k = 5).collect())
    assert(probed.length == 10 && !probed.exists(r => victims.contains(r.getLong(2))))
    info(s"probeJoin: $probeJobs jobs"); assert(probeJobs <= ProbeJoinJobsBefore, s"probeJoin ran $probeJobs jobs")
  }

  /** probeJoin's jobs on this fixture with the tombstones read by a
    * broadcast anti-join per query.
    */
  private val ProbeJoinJobsBefore = 10
}
