package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, SyllabusFixture}
import graft.sources.docx.{DocxDataSource, DocxParser}

/** Tests for the docx source. The census test reads the reference's
  * own syllabus (FIXTURES.md §1) and is cancelled where it is absent;
  * its expected values were measured directly from the OOXML: 49
  * body-level paragraphs (29 non-empty after the reference's
  * whitespace filter, syllabus_parser.py:61), 18 body-level tables, 13
  * marker paragraphs containing "Core element" over 6 distinct cleaned
  * titles. The other tests read the synthetic syllabus (FIXTURES.md
  * §4) and expect the counts it was written with.
  */
class DocxSourceSpec extends SparkTestBase {
  private val fixture = SyllabusFixture.path
  import SyllabusFixture.{Elements, Markers, Paragraphs, Tables}

  test("parser: body-level element census matches the reference fixture") {
    SyllabusFixture.assumeReference()
    val in = new java.io.FileInputStream(SyllabusFixture.Reference)
    val els = try DocxParser.parse(in) finally in.close()
    assert(els.count(_.elementType == "paragraph") == 49)
    assert(els.count(e => e.elementType == "paragraph" && e.text.trim.nonEmpty) == 29)
    assert(els.count(_.elementType == "table") == 18)
    assert(els.map(_.idx) == els.indices.map(_.toLong)) // document order, dense
    val markers = els.filter(e => e.elementType == "paragraph" && e.text.contains("Core element"))
    assert(markers.size == 13)
    val titles = markers.map(_.text.replace("Core element", "").trim.stripPrefix("-").stripSuffix("-")
      .replaceAll("^[\\s\\-:]+|[\\s\\-:]+$", "")).distinct.sorted
    assert(titles == Seq("Analytical skills in chemistry", "Chemical composition of matter",
      "Chemical reactions", "Environmental chemistry", "Inorganic compounds",
      "Organic chemistry"))
  }

  test("parser: table rows are non-empty string grids") {
    val in = new java.io.FileInputStream(fixture)
    val els = try DocxParser.parse(in) finally in.close()
    val tables = els.filter(_.elementType == "table")
    assert(tables.forall(_.tableRows.nonEmpty))
    assert(tables.forall(_.tableRows.forall(_.nonEmpty)))
    // syllabus grids are 6-column (FIXTURES.md); headers mention the
    // assessment column
    assert(tables.exists(_.tableRows.head.exists(_.contains("Assessment"))))
  }

  test("format(\"docx\") loads via DSv2 with the declared schema") {
    val df = spark.read.format("docx").load(fixture)
    assert(df.schema == DocxDataSource.schema)
    assert(df.count() == Paragraphs + Tables)
    val byType = df.groupBy("element_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("paragraph" -> Paragraphs, "table" -> Tables))
    assert(df.agg(countDistinct("doc_id")).head().getLong(0) == 1)
  }

  test("element_type filter pushes into the scan (tables never built)") {
    val df = spark.read.format("docx").load(fixture)
      .filter(col("element_type") === "paragraph")
      .select("doc_id", "text")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("types=paragraph"), scan.take(400))
    assert(df.count() == Paragraphs)
    // the filter composes with markers downstream
    assert(df.filter(col("text").contains("Core element")).count() == Markers)
  }

  test("doc_id filter prunes whole files at planning time") {
    // two copies of the fixture under different names: a doc_id filter
    // must plan ONE input partition (the other file is never opened)
    val dir = java.nio.file.Files.createTempDirectory("graft_docx_prune")
    for (n <- Seq("a.docx", "b.docx"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(fixture), dir.resolve(n))
    val all = spark.read.format("docx").load(dir.toString)
    assert(all.rdd.getNumPartitions == 2 && all.count() == 2 * Elements)
    val one = spark.read.format("docx").load(dir.toString)
      .filter(col("doc_id") === "a.docx")
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("docs=a.docx"), scan.take(400))
    assert(one.rdd.getNumPartitions == 1, "non-matching file must not even be planned")
    assert(one.count() == Elements)
    // composes with the element_type pushdown
    val both = spark.read.format("docx").load(dir.toString)
      .filter(col("doc_id") === "b.docx" && col("element_type") === "table")
    val scan2 = both.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan2.contains("types=table") && scan2.contains("docs=b.docx"), scan2.take(400))
    assert(both.count() == Tables)
  }

  test("column pruning pushes into the scan") {
    val df = spark.read.format("docx").load(fixture).select("doc_id", "text")
    val scanSchema = df.queryExecution.executedPlan.collectLeaves()
      .head.schema.fieldNames.toSet
    assert(scanSchema == Set("doc_id", "text"))
    assert(df.filter(col("text").contains("Core element")).count() == Markers)
  }
}
