package graft.tools

import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.similarity.GraphIndex

/** What the shared load-side tombstone filter ([[Artifacts.dropTombstoned]])
  * removes, for all five serving indexes: exactly the tombstoned ids,
  * with a left anti-join's semantics on every id column, as of the
  * sidecar a load saw.
  */
class TombstoneSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val kinds = ServingKinds.all(spark).map(k => k.name -> k).toMap

  private def withRoot(prefix: String)(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
      .toAbsolutePath.toString
    try body(root) finally Scratch.deleteRecursively(new java.io.File(root))
  }

  Seq("ivf", "pq", "minhash", "semantic", "graph").foreach { name =>
    test(s"$name: a load drops exactly the tombstoned ids; a later delete waits for the next load") {
      val k = kinds(name)
      withRoot(s"tomb_$name") { root =>
        k.save(root)
        val ids0 = k.liveIds(root)
        val first = ids0.toSeq.sorted.take(3)
        k.kind.takedown(spark, root, first.toDF(k.kind.idCol))
        assert(k.liveIds(root) == ids0 -- first)
        // a frame loaded now keeps serving the sidecar it was loaded with
        val loaded = k.live(root)
        val second = ids0.toSeq.sorted.slice(3, 5)
        k.kind.takedown(spark, root, second.toDF(k.kind.idCol))
        assert(ServingKinds.ids(loaded, k.kind.idCol) == ids0 -- first,
          "a delete after the load reached the loaded frame")
        assert(k.liveIds(root) == ids0 -- first -- second)
      }
    }
  }

  test("graph: a row goes when EITHER endpoint is tombstoned") {
    val k = kinds("graph")
    withRoot("tomb_graph_edges") { root =>
      k.save(root)
      def edges(): Set[(Long, Long)] = GraphIndex.load(spark, root, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      val before = edges()
      val gone = Set(before.head._1, before.last._2)
      k.kind.takedown(spark, root, gone.toSeq.toDF(k.kind.idCol))
      val after = edges()
      assert(after == before.filterNot { case (s, n) => gone(s) || gone(n) })
      assert(after.exists(e => !gone(e._1)) && after.size < before.size)
    }
  }

  test("a null id survives, a null tombstone removes nothing, every id column is checked") {
    withRoot("tomb_nulls") { root =>
      Artifacts.publish(spark, root)(_ => ())
      val gen = Artifacts.requireGen(spark, root)
      Seq(Some(1L), Some(2L), None).toDF("id")
        .write.mode("append").parquet(s"$gen/tombstones")
      val rows = Seq[(Option[Long], Option[Long], String)](
        (Some(1L), Some(5L), "a tombstoned"),
        (Some(5L), Some(2L), "b tombstoned"),
        (None, Some(5L), "a null"),
        (Some(5L), None, "b null"),
        (None, None, "both null"),
        (Some(5L), Some(6L), "neither"),
        (None, Some(1L), "a null, b tombstoned"))
      val df = rows.toDF("a", "b", "tag")
      def kept(cols: String*): Set[String] =
        Artifacts.dropTombstoned(spark, gen, df, cols: _*)
          .collect().map { case Row(_, _, t: String) => t }.toSet
      assert(kept("a", "b") ==
        Set("a null", "b null", "both null", "neither"))
      assert(kept("a") == Set("b tombstoned", "a null", "b null",
        "both null", "neither", "a null, b tombstoned"))
      // no sidecar, no change
      withRoot("tomb_none") { clean =>
        Artifacts.publish(spark, clean)(_ => ())
        assert(Artifacts.dropTombstoned(spark,
          Artifacts.requireGen(spark, clean), df, "a", "b").count() == rows.size)
      }
    }
  }
}
