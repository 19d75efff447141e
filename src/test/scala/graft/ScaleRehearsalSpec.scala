package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tools.Scratch

/** [[ScaleRehearsal]] end to end at a tiny size: `gen` replicates
  * sf0.001 twice into a temp dir, and `run` times a two-query heavy
  * set there and writes its report to a temp file.
  */
class ScaleRehearsalSpec extends SparkTestBase {
  private val factor = 2
  private lazy val dir = {
    val d = Files.createTempDirectory("graft_scale").toAbsolutePath.toString
    ScaleRehearsal.gen(spark, sf, d, factor, disjoint = true)
    d
  }

  override def afterAll(): Unit =
    try Scratch.deleteRecursively(new java.io.File(dir)) finally super.afterAll()

  /** Per replicated table, its key columns' values (as longs) in the
    * base and in the generated copy — one small read per side.
    */
  private lazy val keyValues: Map[String, (Seq[Seq[Long]], Seq[Seq[Long]])] =
    ScaleRehearsal.replicatedKeys.map { case (t, keys) =>
      def read(d: String) = Tables.load(spark, d, t)
        .select(keys.map(k => col(k).cast("long")): _*).collect()
        .map(r => keys.indices.map(r.getLong)).toSeq
      t -> (read(sf), read(dir))
    }.toMap

  test("gen: every replicated fact table holds exactly factor x the base rows; dimensions are unchanged") {
    keyValues.foreach { case (t, (base, scaled)) =>
      assert(base.nonEmpty && scaled.size == factor * base.size, t)
    }
    Seq("region", "nation").foreach { t =>
      val base = Tables.load(spark, sf, t)
      val copy = Tables.load(spark, dir, t)
      assert(base.exceptAll(copy).isEmpty && copy.exceptAll(base).isEmpty, t)
    }
  }

  test("gen: replica key ranges are disjoint, each replica one 1e7 stride above the last") {
    ScaleRehearsal.replicatedKeys.foreach { case (t, keys) =>
      val (base, scaled) = keyValues(t)
      keys.indices.foreach { i =>
        val b = base.map(_(i)).toSet
        assert(b.max < ScaleRehearsal.Stride, s"$t.${keys(i)}")
        val want = (0 until factor).flatMap(r => b.map(_ + r * ScaleRehearsal.Stride)).toSet
        assert(scaled.map(_(i)).toSet == want, s"$t.${keys(i)}")
      }
    }
  }

  test("run: a two-query heavy set reports to the given path; both triangle plan paths read exactly 2x the base") {
    val out = Files.createTempFile("scale_rehearsal", ".md")
    try {
      ScaleRehearsal.run(spark, sf, dir, factor, Seq("q_agg", "q_join_semi"), out,
        disjoint = true)
      val report = new String(Files.readAllBytes(out), UTF_8)
      assert(report.contains("| q_agg |") && report.contains("| q_join_semi |"), report)
      val base = """- base: (\d+) edges / (\d+) triangles""".r
        .findFirstMatchIn(report).map(m => (m.group(1).toLong, m.group(2).toLong))
      assert(base.exists { case (e, t) => e > 0 && t > 0 }, report)
      val (e, t) = base.get
      assert(report.contains(s"broadcast path (default 50M cutoff): ${factor * e} edges / ${factor * t} triangles"), report)
      assert(report.contains(s"shuffled path (cutoff forced to 1M): ${factor * e} edges / ${factor * t} triangles"), report)
      assert(report.contains(s"both paths equal and exactly ${factor}x base: OK"), report)
      assert(report.contains("## AQE skew-join check"), report)
      // at 2x sf0.001 no shuffle partition nears the 256k skew threshold:
      // the check must say it cannot judge the split, not report NO
      val largest = """- largest shuffle partition: (\d+) bytes \(skew threshold 262144 bytes\)""".r
        .findFirstMatchIn(report).map(_.group(1).toLong)
      assert(largest.exists(b => b > 0 && b < 262144L), report)
      assert(report.contains("contains `skew=true`: no verdict (threshold not reached)"), report)
    } finally Files.deleteIfExists(out)
  }
}
