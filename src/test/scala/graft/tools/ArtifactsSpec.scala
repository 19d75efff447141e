package graft.tools

import graft.SparkTestBase

class ArtifactsSpec extends SparkTestBase {
  import spark.implicits._

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath.toString

  test("publish/currentGen: commit marker protocol, previous gen retained") {
    val root = scratch("artifacts_publish")
    try {
      assert(Artifacts.currentGen(spark, root).isEmpty)
      val g0 = Artifacts.publish(spark, root) { p =>
        Seq(1L).toDF("id").write.parquet(s"$p/data")
      }
      assert(Artifacts.currentGen(spark, root).contains(g0))
      val g1 = Artifacts.publish(spark, root) { p =>
        Seq(2L).toDF("id").write.parquet(s"$p/data")
      }
      assert(Artifacts.currentGen(spark, root).contains(g1))
      // previous committed generation retained for in-flight readers
      assert(Artifacts.exists(spark, s"$g0/data"))
      assert(spark.read.parquet(s"$g1/data").as[Long].collect().toSeq == Seq(2L))
      val g2 = Artifacts.publish(spark, root) { p =>
        Seq(3L).toDF("id").write.parquet(s"$p/data")
      }
      // g1 retained, g0 pruned
      assert(!Artifacts.exists(spark, g0))
      assert(Artifacts.exists(spark, s"$g1/data"))
      assert(Artifacts.currentGen(spark, root).contains(g2))
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("publish: a crash mid-write leaves an uncommitted dir no reader resolves") {
    val root = scratch("artifacts_crash")
    try {
      val g0 = Artifacts.publish(spark, root) { p =>
        Seq(1L).toDF("id").write.parquet(s"$p/data")
      }
      // simulate a rebuild dying inside write(): dir exists, no marker
      intercept[RuntimeException] {
        Artifacts.publish(spark, root) { p =>
          Seq(2L).toDF("id").write.parquet(s"$p/data")
          throw new RuntimeException("rebuild died")
        }
      }
      // readers still resolve the last committed generation
      assert(Artifacts.currentGen(spark, root).contains(g0))
      // the next publish supersedes the stale uncommitted dir
      val g2 = Artifacts.publish(spark, root) { p =>
        Seq(3L).toDF("id").write.parquet(s"$p/data")
      }
      assert(Artifacts.currentGen(spark, root).contains(g2))
      assert(spark.read.parquet(s"${Artifacts.currentGen(spark, root).get}/data")
        .as[Long].collect().toSeq == Seq(3L))
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }
}
