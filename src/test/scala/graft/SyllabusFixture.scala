package graft

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.Assertions

/** The syllabus docx inputs of the docx and pipeline specs
  * (FIXTURES.md §1 and §4).
  *
  *  - [[Reference]] is the reference's own syllabus. The repository
  *    does not hold it; specs that assert its content call
  *    [[assumeReference]] and are cancelled where it is absent.
  *  - [[path]] is a synthetic syllabus written here, once per JVM, with
  *    the reference's structure: preamble paragraphs and a preamble
  *    table, 13 "Core element" markers over the reference's 6 titles
  *    (the first an "Analytical skills in chemistry" occurrence, one
  *    unspaced), whitespace-only paragraphs, and 6-column grids under
  *    the `Assessment standard | …` header. Its counts below come from
  *    the element list it is written from, never from parsing it.
  */
object SyllabusFixture {

  /** The path q_docx and q_pipeline read: one copy, in the queries. */
  val Reference: String = graft.queries.Core.fixtureDocx

  def assumeReference(): Unit =
    Assertions.assume(Files.exists(Paths.get(Reference)),
      s"reference syllabus $Reference is absent")

  private val Marker = "Core element"
  private val Titles = Seq("Analytical skills in chemistry", "Chemical composition of matter",
    "Chemical reactions", "Environmental chemistry", "Inorganic compounds", "Organic chemistry")

  /** A body-level element: Left = paragraph text, Right = table rows. */
  private type El = Either[String, Seq[Seq[String]]]

  private val header = Seq("Assessment standard", "Success criteria", "Theme/topic",
    "Suggested teaching and learning activities",
    "Suggested teaching, learning and assessment method(s)",
    "Suggested teaching, learning and assessment resources")

  private def grid(title: String, part: Int): El = Right(Seq(header, Seq(
    s"Learners should be able to explain $title ($part)", s"Describe $title",
    s"$title, part $part", s"Group work on $title", "Oral questions and observation",
    "Charts, models and samples")))

  /** (title, tables) per marker in document order: 13 markers, 7
    * Analytical-skills grids (63 planned questions, past the 60-question
    * batch cap) and one table-less occurrence (the paragraph fallback).
    */
  private val occurrences = Seq(0 -> 3, 1 -> 1, 2 -> 1, 0 -> 2, 3 -> 1, 4 -> 2, 5 -> 1,
    0 -> 2, 1 -> 1, 2 -> 1, 4 -> 1, 3 -> 1, 5 -> 0)

  private val body: Seq[El] =
    Seq(Left("Teaching syllabus for Forms 1 and 2"), Left("Form 1"), Left(""),
      Right(Seq(Seq("Subject", "Chemistry"), Seq("Level", "Forms 1 and 2"))), Left("   ")) ++
      occurrences.zipWithIndex.flatMap { case ((t, tables), i) =>
        val title = Titles(t)
        val marker = i match {
          case 2 => s"$Marker$title" // unspaced, as in the reference
          case _ if i % 2 == 0 => s"$Marker - $title"
          case _ => s"$Marker: $title"
        }
        Seq(Left(marker), Left(s"Form ${1 + i / 7}, term ${1 + i % 3}: $title"), Left(" ")) ++
          (1 to tables).map(grid(title, _)) ++ (if (i % 4 == 0) Seq(Left("")) else Nil)
      }

  val Paragraphs: Int = body.count(_.isLeft)
  val Tables: Int = body.count(_.isRight)
  val Elements: Int = body.size
  val Markers: Int = body.count { case Left(t) => t.contains(Marker); case _ => false }

  private def xml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def para(text: String): String =
    if (text.isEmpty) "<w:p/>"
    else s"""<w:p><w:r><w:t xml:space="preserve">${xml(text)}</w:t></w:r></w:p>"""

  private val parts = Seq(
    "[Content_Types].xml" ->
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
        "</Types>"),
    "_rels/.rels" ->
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
        "</Relationships>"),
    "word/document.xml" ->
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
        body.map(_.fold(para, rows => rows.map(_.map(c => s"<w:tc>${para(c)}</w:tc>")
          .mkString("<w:tr>", "", "</w:tr>")).mkString("<w:tbl>", "", "</w:tbl>"))).mkString +
        "<w:sectPr/></w:body></w:document>"))

  /** The synthetic syllabus, written on first use. Its file name is
    * fixed because `doc_id` is part of every subtopic name.
    */
  lazy val path: String = {
    val dir = Files.createTempDirectory("graft_syllabus")
    val f = dir.resolve("synthetic_syllabus.docx")
    dir.toFile.deleteOnExit()
    f.toFile.deleteOnExit()
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(f.toFile)))
    try parts.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(LocalDateTime.of(2000, 1, 1, 0, 0))
      zip.putNextEntry(e)
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
    f.toString
  }
}
