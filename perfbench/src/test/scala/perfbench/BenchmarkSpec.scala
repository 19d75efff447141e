package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.docx.DocxDataSource

/** End-to-end checks of the benchmark command on tiny inputs. */
class BenchmarkSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val bench = new File("target/test-bench").getAbsoluteFile

  private val tiny = Sizes(syllabusDocs = 3, topicsPerDoc = 4, corpusDocs = 600,
    vectors = 3000, dim = 8, clusters = 6, cells = 6, appendSize = 40,
    deletes = 5, appendAtMs = 500, queryPool = 64, minQueries = 20)

  /** name → unit of every metric in BENCHMARK.json's `section`. */
  private def declared(section: String): Map[String, String] = {
    val json = mapper.readTree(new File("../BENCHMARK.json"))
    json.get(section).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
  }

  private def printed(out: JsonNode): Map[String, String] =
    out.get("metrics").fields().asScala.map(e => e.getKey -> e.getValue.get("unit").asText()).toMap

  test("generated docx files read back to the manifest's element counts") {
    val spark = Main.session(new File(bench, ".work/docx"))
    try {
      val dir = new File(bench, ".work/docx/in")
      val docs = Gen.docx(dir, 11, 5, 6)
      val got = DocxDataSource.read(spark, dir.getPath).groupBy("doc_id").agg(
        count(lit(1)).as("elements"),
        sum(when(col("element_type") === "paragraph", 1).otherwise(0)).as("paragraphs"),
        sum(when(col("element_type") === "table", 1).otherwise(0)).as("tables"))
        .collect().map(r => (new File(r.getString(0)).getName, (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == docs.map(d => d.file -> ((d.elements.toLong, d.paragraphs.toLong, d.tables.sum.toLong))).toMap)
    } finally {
      spark.stop()
      Workload.deleteRecursively(new File(bench, ".work/docx"))
    }
  }

  test("every workload prints every metric of BENCHMARK.json with its unit, and only those") {
    val runs = for (w <- Main.Workloads; trace <- Seq(false, true)) yield {
      val out = mapper.readTree(Main.run(Main.Args(w, 5, 1.0, trace), bench, tiny))
      assert(out.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
      assert(out.get("correct").asBoolean(), s"$w trace=$trace: $out")
      assert(out.get("failed").asLong() == 0 && out.get("attempted").asLong() >= 1)
      (trace, printed(out))
    }
    for ((section, trace) <- Seq("end_to_end" -> false, "per_layer" -> true)) {
      val want = declared(section)
      runs.filter(_._1 == trace).map(_._2).foreach { got =>
        assert(got == want, s"$section: missing ${want.toSet -- got.toSet}, undeclared ${got.toSet -- want.toSet}")
      }
    }
  }
}
