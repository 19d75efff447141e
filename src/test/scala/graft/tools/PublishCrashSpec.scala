package graft.tools

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.dedup.LabelStore
import graft.streaming.IndexMaintStream

/** Crash points of the shared generation publish, for all five
  * serving indexes: a Δ publish dies at the first create of its pool
  * data, a `*_dirs` manifest, the carried tombstones, the `_TAG_` or
  * the `_COMMITTED` marker ([[CrashFs]]). Each time a reader must
  * still resolve the old generation with its old rows, the replayed
  * trigger must publish exactly once, and the stale dirs the crash
  * left must be pruned. The CC label store, which carries no
  * tombstones and no tag, is crashed at the other three points.
  */
class PublishCrashSpec extends SparkTestBase {

  private lazy val kinds = {
    CrashFs.install(spark)
    ServingKinds.all(spark).map(k => k.name -> k).toMap
  }

  private val points: Seq[(String, Path => Boolean)] = Seq(
    "pool data" ->
      (p => p.toString.contains("/pool/") && p.getName.startsWith("part-")),
    "a *_dirs manifest" -> (p => p.getName.endsWith("_dirs")),
    "the tombstone carry" -> (p => p.getParent.getName == "tombstones"),
    "_TAG_" -> (p => p.getName.startsWith("_TAG_")),
    "_COMMITTED" -> (p => p.getName == "_COMMITTED"))

  private def children(dir: java.io.File): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(_.getName).toSet

  /** Pool tokens the committed generations' manifests reference. */
  private def referenced(root: String): Set[String] =
    Artifacts.committedGens(spark, root).flatMap { g =>
      new java.io.File(Artifacts.localPath(g)).list().toSeq
        .filter(_.endsWith("_dirs")).flatMap(Artifacts.dirsOf(spark, root, g, _))
    }.map(_.split("/pool/").last.split("/").head).toSet

  /** A fresh crashfs root for `body`, removed afterwards. */
  private def withCrashRoot[T](prefix: String)(body: (String, String) => T): T = {
    val local = java.nio.file.Files.createTempDirectory(prefix)
      .toAbsolutePath.toString
    try body(s"${CrashFs.Scheme}://$local", local)
    finally {
      CrashFs.disarm()
      Scratch.deleteRecursively(new java.io.File(local))
    }
  }

  /** No uncommitted generation and no unreferenced pool dir. */
  private def assertPruned(root: String, local: String, point: String): Unit = {
    val gens = children(new java.io.File(local)).filter(_.matches("g\\d{8}"))
    assert(gens.size == Artifacts.committedGens(spark, root).size,
      s"$point: an uncommitted generation survived: $gens")
    assert(children(new java.io.File(s"$local/pool")) == referenced(root),
      s"$point: a stale pool dir survived")
  }

  Seq("ivf", "pq", "minhash", "semantic", "graph").foreach { name =>
    test(s"$name: a crash at any publish step keeps the old generation; the replay publishes once and prunes") {
      val k = kinds(name)
      val deltaIds = k.delta.select(k.kind.idCol).collect()
        .map(_.getLong(0)).toSet
      points.foreach { case (point, at) =>
        withCrashRoot(s"crash_$name") { (root, local) =>
          k.save(root)
          // a live sidecar, so the publish has tombstones to carry
          k.kind.takedown(spark, root, k.base.limit(3))
          val gen0 = Artifacts.requireGen(spark, root)
          val ids0 = k.liveIds(root)
          CrashFs.arm(at)
          intercept[Exception](IndexMaintStream.publishOnce(spark, root,
            k.kind, k.delta, "b1"))
          assert(!CrashFs.pending, s"$point: the publish never created it")
          assert(Artifacts.requireGen(spark, root) == gen0,
            s"$point: a reader resolved the crashed generation")
          assert(k.liveIds(root) == ids0, s"$point: old rows changed")
          assert(IndexMaintStream.publishOnce(spark, root, k.kind, k.delta,
            "b1"), s"$point: the replay did not publish")
          assert(!IndexMaintStream.publishOnce(spark, root, k.kind, k.delta,
            "b1"), s"$point: the trigger published twice")
          assert(k.liveIds(root) == ids0 ++ deltaIds, s"$point: rows")
          assertPruned(root, local, point)
        }
      }
    }
  }

  test("labelstore: a crashed appendEdges keeps the old labels; the replay yields an uncrashed run's and prunes") {
    import spark.implicits._
    CrashFs.install(spark)
    // components {0..3}, {4..7}, …: (1, 5) merges two of them, (9, 40)
    // adds a new id to one, (41, 42) is a new component
    val labels = (0L until 40L).map(i => (i, i / 4 * 4)).toDF("id", "component")
    val edges = Seq((1L, 5L), (9L, 40L), (41L, 42L)).toDF("a", "b")
    def labelsOf(root: String): Set[(Long, Long)] =
      LabelStore.load(spark, root).as[(Long, Long)].collect().toSet
    val want = withCrashRoot("crash_labels_ref") { (root, _) =>
      LabelStore.save(labels, root, nBuckets = 8)
      LabelStore.appendEdges(spark, root, edges)
      labelsOf(root)
    }
    points.filter { case (point, _) =>
      Set("pool data", "a *_dirs manifest", "_COMMITTED")(point)
    }.foreach { case (point, at) =>
      withCrashRoot("crash_labels") { (root, local) =>
        LabelStore.save(labels, root, nBuckets = 8)
        val gen0 = Artifacts.requireGen(spark, root)
        val labels0 = labelsOf(root)
        CrashFs.arm(at)
        intercept[Exception](LabelStore.appendEdges(spark, root, edges))
        assert(!CrashFs.pending, s"$point: appendEdges never created it")
        assert(Artifacts.requireGen(spark, root) == gen0,
          s"$point: a reader resolved the crashed generation")
        assert(labelsOf(root) == labels0, s"$point: old labels changed")
        LabelStore.appendEdges(spark, root, edges)
        assert(labelsOf(root) == want, s"$point: replayed labels")
        assertPruned(root, local, point)
      }
    }
  }
}
