package graft.tools

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.streaming.IndexMaintStream

/** Crash points of the shared generation publish, for all five
  * serving indexes: a Δ publish dies at the first create of its pool
  * data, a `*_dirs` manifest, the carried tombstones, the `_TAG_` or
  * the `_COMMITTED` marker ([[CrashFs]]). Each time a reader must
  * still resolve the old generation with its old rows, the replayed
  * trigger must publish exactly once, and the stale dirs the crash
  * left must be pruned.
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

  Seq("ivf", "pq", "minhash", "semantic", "graph").foreach { name =>
    test(s"$name: a crash at any publish step keeps the old generation; the replay publishes once and prunes") {
      val k = kinds(name)
      val deltaIds = k.delta.select(k.kind.idCol).collect()
        .map(_.getLong(0)).toSet
      points.foreach { case (point, at) =>
        val local = java.nio.file.Files.createTempDirectory(s"crash_$name")
          .toAbsolutePath.toString
        val root = s"${CrashFs.Scheme}://$local"
        try {
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
          val gens = children(new java.io.File(local))
            .filter(_.matches("g\\d{8}"))
          assert(gens.size == Artifacts.committedGens(spark, root).size,
            s"$point: an uncommitted generation survived: $gens")
          assert(children(new java.io.File(s"$local/pool")) ==
            referenced(root), s"$point: a stale pool dir survived")
        } finally {
          CrashFs.disarm()
          Scratch.deleteRecursively(new java.io.File(local))
        }
      }
    }
  }
}
