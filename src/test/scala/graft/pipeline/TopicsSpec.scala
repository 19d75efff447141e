package graft.pipeline

import graft.{SparkTestBase, SyllabusFixture}

/** O4 edge cases from SURVEY.md §5.2(1), on synthetic elements, plus
  * the golden census on the reference fixture (cancelled where it is
  * absent, FIXTURES.md §1).
  */
class TopicsSpec extends SparkTestBase {
  import spark.implicits._

  private def el(idx: Long, tpe: String, text: String): (String, Long, String, String, Seq[Seq[String]]) =
    ("d1", idx, tpe, text, if (tpe == "table") Seq(Seq("c")) else null)

  private def elements(rows: (String, Long, String, String, Seq[Seq[String]])*) =
    rows.toDF("doc_id", "element_idx", "element_type", "text", "table_rows")

  test("no markers ⇒ zero topics") {
    val t = Topics.segmentTopics(elements(
      el(0, "paragraph", "hello"), el(1, "table", null)), "Core element")
    assert(t.count() == 0)
  }

  test("preamble dropped; marker opens its own topic; last topic flushed") {
    val t = Topics.segmentTopics(elements(
      el(0, "paragraph", "preamble - dropped"),
      el(1, "table", null), // preamble table also dropped
      el(2, "paragraph", "Core element - Alpha"),
      el(3, "paragraph", "body a1"),
      el(4, "paragraph", "Core elementBeta"), // unspaced marker
      el(5, "table", null),
      el(6, "paragraph", "   "), // whitespace-only: filtered pre-segmentation
      el(7, "paragraph", "body b2")), "Core element")
      .collect().sortBy(_.topic_seq)
    assert(t.map(_.title).toSeq == Seq("Alpha", "Beta"))
    // marker element belongs to the NEW topic (syllabus_parser.py:146)
    assert(t(0).elements.map(_.element_idx) == Seq(2L, 3L))
    assert(t(1).elements.map(_.element_idx) == Seq(4L, 5L, 7L))
  }

  test("duplicate titles stay per-occurrence keyed by topic_seq") {
    val t = Topics.segmentTopics(elements(
      el(0, "paragraph", "Core element Dup"),
      el(1, "paragraph", "first"),
      el(2, "paragraph", "Core element Dup"),
      el(3, "paragraph", "second")), "Core element")
      .collect().sortBy(_.topic_seq)
    assert(t.length == 2 && t.forall(_.title == "Dup"))
    assert(t.map(_.topic_seq).toSeq == Seq(1L, 2L))
  }

  test("whitespace-only marker paragraph cannot open a topic") {
    // a paragraph whose text is only the marker surrounded by spaces
    // still counts (non-empty after trim); truly blank never matches
    val t = Topics.segmentTopics(elements(
      el(0, "paragraph", "  Core element Gamma  "),
      el(1, "paragraph", "x")), "Core element")
      .collect()
    assert(t.length == 1 && t.head.title == "Gamma")
  }

  test("golden: reference fixture census (13 topics, 6 titles)") {
    SyllabusFixture.assumeReference()
    val t = Topics.fromDocx(spark, SyllabusFixture.Reference).collect()
    assert(t.length == 13)
    assert(t.map(_.title).distinct.sorted.toSeq == Seq(
      "Analytical skills in chemistry", "Chemical composition of matter",
      "Chemical reactions", "Environmental chemistry", "Inorganic compounds",
      "Organic chemistry"))
    // every kept element after the first marker lands in exactly one
    // topic: 29 non-empty paragraphs + 18 tables minus the preamble
    val kept = t.map(_.elements.size).sum
    val all = spark.read.format("docx").load(SyllabusFixture.Reference)
    val nonEmpty = all.filter(
      "element_type = 'table' or (element_type = 'paragraph' and trim(text) <> '')").count()
    val firstMarkerIdx = t.map(_.elements.map(_.element_idx).min).min
    val preamble = all.filter(
      s"element_idx < $firstMarkerIdx and (element_type = 'table' or (element_type = 'paragraph' and trim(text) <> ''))").count()
    assert(kept == nonEmpty - preamble)
    // elements are in document order within each topic
    assert(t.forall(tp => tp.elements.map(_.element_idx) == tp.elements.map(_.element_idx).sorted))
  }
}
