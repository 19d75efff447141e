package graft.similarity

import graft.SparkTestBase
import graft.dedup.LabelStore
import graft.tools.{Artifacts, JobMeter, Scratch, ServingKinds}

/** The Spark jobs a serving-index load starts, counted by a listener:
  * a table over the five kinds of [[graft.tools.ServingKinds]] and the
  * CC label store, and the IVF probes over a load. The IVF fixture has 64 cells in each of
  * two pool dirs: more cell dirs per pool than Spark's 32-path
  * threshold for listing a directory with a distributed job, had the
  * load listed them through Spark.
  */
class IvfLoadJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** (result, jobs started by `body` on this thread). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (r, m) = JobMeter(spark)(body)
    (r, m.jobs)
  }

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

  private lazy val kinds = ServingKinds.all(spark).map(k => k.name -> k).toMap

  /** (kind, load, its jobs without and with a tombstone sidecar). A
    * load is the `live` frame a kind serves from: the frozen structure,
    * manifests and file listing are read on the driver, and the one job
    * is the read of the sidecar's ids. The graph's adjacency load reads
    * the degree bound its generation was published with, so it decides
    * on the serving cap without an aggregate.
    */
  private val loads = Seq(("ivf", "load", 0, 1), ("pq", "load", 0, 1),
    ("minhash", "load", 0, 1), ("semantic", "load", 0, 1),
    ("graph", "loadVectors", 0, 1), ("graph", "load", 0, 1))

  loads.foreach { case (name, call, plain, sidecar) =>
    test(s"$name $call: $plain jobs, $sidecar with a tombstone sidecar") {
      val k = kinds(name)
      val open: String => Any =
        if (call == "load" && name == "graph") GraphIndex.load(spark, _) else k.live
      val r = java.nio.file.Files.createTempDirectory(s"load_jobs_$name")
        .toAbsolutePath.toString
      try {
        k.save(r)
        val (_, j0) = jobsOf(open(r))
        val ids = k.liveIds(r).toSeq.sorted.take(2)
        k.kind.takedown(spark, r, ids.toDF(k.kind.idCol))
        val (_, j1) = jobsOf(open(r))
        assert((j0, j1) == (plain, sidecar))
      } finally Scratch.deleteRecursively(new java.io.File(r))
    }
  }

  test("label store load and loadBuckets over 64 buckets: 0 jobs") {
    val r = java.nio.file.Files.createTempDirectory("load_jobs_labels")
      .toAbsolutePath.toString
    try {
      // component c lands in bucket c: 64 bucket dirs of 10 rows each,
      // more than Spark's 32-path threshold for a listing job
      LabelStore.save((0L until 640L).map(i => (i, i % 64))
        .toDF("id", "component"), r, nBuckets = 64)
      assert(LabelStore.manifest(spark, r).size == 64)
      val (all, j0) = jobsOf(LabelStore.load(spark, r))
      val (some, j1) = jobsOf(LabelStore.loadBuckets(spark, r, Set(1, 2)))
      assert((j0, j1) == (0, 0))
      assert(all.count() == 640 && some.count() == 20)
    } finally Scratch.deleteRecursively(new java.io.File(r))
  }
}
