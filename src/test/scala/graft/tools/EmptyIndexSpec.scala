package graft.tools

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.streaming.IndexMaintStream

/** Empty inputs through the shared generation lifecycle, for all five
  * serving indexes: a zero-row Δ must still commit its tagged
  * generation (so a replayed trigger stays exactly-once) without
  * referencing a new, empty dir; an index whose every row was deleted
  * and compacted must load, serve zero rows, and take a Δ again.
  */
class EmptyIndexSpec extends SparkTestBase {

  private lazy val kinds = ServingKinds.all(spark).map(k => k.name -> k).toMap

  /** Every manifest line of `gen`, prefixed by its manifest's name. */
  private def manifestLines(gen: String): Set[String] = {
    val p = new Path(gen)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(p).map(_.getPath.getName).filter(_.endsWith("_dirs"))
      .flatMap(n => Artifacts.readLinesFile(spark, s"$gen/$n").map(n + ":" + _))
      .toSet
  }

  Seq("ivf", "pq", "minhash", "semantic", "graph").foreach { name =>
    test(s"$name: an empty delta commits its tag without a new dir; an emptied index serves zero rows") {
      val k = kinds(name)
      val root = java.nio.file.Files.createTempDirectory(s"empty_$name")
        .toAbsolutePath.toString
      try {
        k.save(root)
        val gen0 = Artifacts.requireGen(spark, root)
        val ids0 = k.liveIds(root)
        val served0 = k.serve(root)
        assert(ids0.nonEmpty && served0 > 0)
        assert(IndexMaintStream.publishOnce(spark, root, k.kind,
          k.delta.limit(0), "b0"))
        val gen1 = Artifacts.requireGen(spark, root)
        assert(gen1 != gen0 && Artifacts.tagOf(spark, gen1).contains("b0"),
          "an empty delta must still commit its tagged generation")
        assert(manifestLines(gen1) == manifestLines(gen0),
          "an empty delta must not add a dir to any manifest")
        assert(k.liveIds(root) == ids0)
        assert(k.serve(root) == served0)
        assert(!IndexMaintStream.publishOnce(spark, root, k.kind,
          k.delta.limit(0), "b0"), "a replayed empty trigger re-published")
        // delete every row, fold the deletes in: the index is empty
        k.kind.takedown(spark, root, k.base)
        k.compact(root)
        assert(k.liveIds(root).isEmpty)
        assert(k.serve(root) == 0L)
        // and it takes a delta again
        assert(IndexMaintStream.publishOnce(spark, root, k.kind, k.delta, "b1"))
        val deltaIds = k.delta.select(k.kind.cols.head).collect()
          .map(_.getLong(0)).toSet
        assert(k.liveIds(root) == deltaIds)
      } finally Scratch.deleteRecursively(new java.io.File(root))
    }
  }
}
