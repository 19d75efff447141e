package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper

/** Seeded input generators. Everything here is plain Scala and a pure
  * function of (seed, size): the same seed writes byte-identical files.
  * The engine only ever sees the files these write.
  */
object Gen {

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(Files.newBufferedWriter(f.toPath, UTF_8))
    try lines.foreach { l => w.print(l); w.print('\n') } finally w.close()
  }

  def readLines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).toSeq

  /** A pronounceable synthetic word list: `n` distinct words per seed,
    * built from syllables so that texts tokenize like natural language.
    */
  private def vocabulary(rnd: scala.util.Random, n: Int, syllables: IndexedSeq[String]): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val k = 2 + rnd.nextInt(3)
      out += (0 until k).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    }
    out.toIndexedSeq
  }

  private val plainSyllables: IndexedSeq[String] =
    for (c <- "bcdfghklmnprstvz".map(_.toString); v <- Seq("a", "e", "i", "o", "u")) yield c + v

  // ------------------------------------------------------------ docx

  /** One generated syllabus document: `tables(i)` is topic i's table
    * count; `elements` counts every body-level paragraph and table.
    */
  final case class DocxDoc(file: String, titles: Seq[String], tables: Seq[Int],
      elements: Int, paragraphs: Int)

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def para(text: String): String =
    if (text.isEmpty) "<w:p/>"
    else s"""<w:p><w:r><w:t xml:space="preserve">${xmlEscape(text)}</w:t></w:r></w:p>"""

  private def table(rows: Seq[Seq[String]]): String =
    rows.map(r => r.map(c => s"<w:tc>${para(c)}</w:tc>").mkString("<w:tr>", "", "</w:tr>"))
      .mkString("<w:tbl>", "", "</w:tbl>")

  private val contentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
      "</Types>"

  private val rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
      "</Relationships>"

  /** Minimal OOXML package: content types, package rels and the main
    * document part. Entry times are fixed so the bytes depend on the
    * content alone.
    */
  private def writeDocx(f: File, bodyXml: String): Unit = {
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
    try {
      Seq("[Content_Types].xml" -> contentTypes, "_rels/.rels" -> rels,
        "word/document.xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
          bodyXml + "<w:sectPr/></w:body></w:document>")).foreach { case (name, xml) =>
        val e = new ZipEntry(name)
        e.setTimeLocal(LocalDateTime.of(2000, 1, 1, 0, 0))
        zip.putNextEntry(e)
        zip.write(xml.getBytes(UTF_8))
        zip.closeEntry()
      }
    } finally zip.close()
  }

  val Marker = "Core element"

  /** `nDocs` syllabus files under `dir`, ~`topicsPerDoc` topics each with
    * 0–3 tables, plus `manifest.tsv`. Topic titles are unique across the
    * corpus, so per-title pipeline output maps to exactly one topic.
    */
  def docx(dir: File, seed: Long, nDocs: Int, topicsPerDoc: Int): Seq[DocxDoc] = {
    dir.mkdirs()
    val rnd = new scala.util.Random(seed)
    val vocab = vocabulary(new scala.util.Random(seed ^ 0x5eed), 3000, plainSyllables)
    def words(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0 until nDocs).map { d =>
      val file = f"syllabus_$d%05d.docx"
      val body = new StringBuilder
      var elements = 0
      var paragraphs = 0
      def addPara(t: String): Unit = { body ++= para(t); elements += 1; paragraphs += 1 }
      addPara(s"Syllabus ${words(3)}") // preamble: dropped by segmentation
      addPara(words(8))
      val nTopics = topicsPerDoc - 2 + rnd.nextInt(5)
      // table counts cycle through 0..3 from a random start, so every
      // document has the same mix and per-topic ratios vary little by seed
      val firstTables = rnd.nextInt(4)
      val titles = ArrayBuffer.empty[String]
      val tables = ArrayBuffer.empty[Int]
      for (t <- 0 until nTopics) {
        val title = s"Topic $d.$t ${words(2)}"
        titles += title
        addPara(if (rnd.nextBoolean()) s"$Marker: $title" else s"$Marker $title")
        for (_ <- 0 until 1 + rnd.nextInt(3)) addPara(words(6 + rnd.nextInt(10)))
        if (rnd.nextInt(4) == 0) addPara("") // empty paragraphs are skipped, not topics
        val nTables = (firstTables + t) % 4
        tables += nTables
        for (_ <- 0 until nTables) {
          val rows = 2 + rnd.nextInt(3)
          body ++= table((0 until rows).map(_ => (0 until 3).map(_ => words(1 + rnd.nextInt(3)))))
          elements += 1
        }
      }
      writeDocx(new File(dir, file), body.toString)
      DocxDoc(file, titles.toSeq, tables.toSeq, elements, paragraphs)
    }
    writeLines(new File(dir, "manifest.tsv"), docs.iterator.flatMap { d =>
      Iterator(s"D\t${d.file}\t${d.elements}\t${d.paragraphs}\t${d.tables.sum}") ++
        d.titles.zip(d.tables).iterator.map { case (t, n) => s"T\t${d.file}\t$t\t$n" }
    })
    docs
  }

  // ---------------------------------------------------------- corpus

  /** Ground truth for one generated document. `kind` is one of
    * clean, junk, exact_dup, near_dup, contaminated; `of` is the
    * original's id for duplicates and the eval doc's id for
    * contamination; `jaccard` is the 3-shingle Jaccard to the original
    * of a near-duplicate, after normalization.
    */
  final case class Truth(id: Long, kind: String, of: Long, jaccard: Double)

  final case class Corpus(docs: Seq[(Long, String, String)], eval: Seq[(Long, String)],
      truth: Seq[Truth])

  val EvalIdBase = 1000000000L

  private val langs = Seq("en", "de", "fr")
  // 70% English; the engine's quality label counts English stopwords only,
  // so clean German and French documents are the ones it wrongly drops
  private def language(rnd: scala.util.Random): String = {
    val r = rnd.nextInt(20)
    if (r < 14) "en" else if (r < 17) "de" else "fr"
  }
  private val functionWords = Map(
    "en" -> IndexedSeq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> IndexedSeq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> IndexedSeq("le", "les", "et", "est", "pas", "une", "dans"))
  private val accentSyllables = Map(
    "en" -> plainSyllables,
    "de" -> (plainSyllables ++ Seq("ü", "ö", "ä", "schü", "bö", "grä")),
    "fr" -> (plainSyllables ++ Seq("é", "è", "ê", "fé", "lè", "çé")))

  /** The normalization the chain applies, restated independently: NFD,
    * drop combining marks, lower-case, single spaces.
    */
  def normalize(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "").toLowerCase(java.util.Locale.ROOT)
      .trim.replaceAll("\\s+", " ")

  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ")
    if (t.length < k) Set.empty else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  /** `n` documents (~300 chars each) in three languages with a quality
    * mix and planted duplicates and contamination, plus a held-out eval
    * set. Ids of originals are lower than their duplicates', so a
    * min-id representative keeps the original.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vocabs = langs.map(l => l -> vocabulary(new scala.util.Random(seed ^ l.hashCode),
      4000, accentSyllables(l))).toMap
    def word(l: String) = { val v = vocabs(l); v(rnd.nextInt(v.size)) }
    def cleanText(l: String, nTok: Int): String = {
      val fw = functionWords(l)
      (0 until nTok).map(i =>
        if (i % 3 == 1) fw(rnd.nextInt(fw.size))
        else { val w = word(l); if (rnd.nextInt(8) == 0) w.capitalize else w })
        .mkString(" ")
    }
    def junkText(l: String): String =
      if (rnd.nextBoolean()) (0 until 6 + rnd.nextInt(14)).map(_ => word(l)).mkString(" ")
      else (0 until 30 + rnd.nextInt(20)).map(_ =>
        if (rnd.nextInt(3) == 0) "#" * (1 + rnd.nextInt(4)) else word(l)).mkString(" ")

    val nExact = n / 10
    val nNear = n / 10
    val nContam = n / 50
    val nJunk = n * 15 / 100
    val nClean = n - nExact - nNear - nContam - nJunk
    val nEval = math.max(1, nContam)
    val docs = ArrayBuffer.empty[(Long, String, String)]
    val truth = ArrayBuffer.empty[Truth]
    var id = 0L
    def add(lang: String, text: String, t: Long => Truth): Unit = {
      docs += ((id, lang, text)); truth += t(id); id += 1
    }
    for (_ <- 0 until nClean) {
      val l = language(rnd)
      add(l, cleanText(l, 35 + rnd.nextInt(30)), Truth(_, "clean", -1, 0.0))
    }
    for (_ <- 0 until nJunk) {
      val l = language(rnd)
      add(l, junkText(l), Truth(_, "junk", -1, 0.0))
    }
    val eval = (0 until nEval).map { i =>
      (EvalIdBase + i, cleanText("en", 30 + rnd.nextInt(10)))
    }
    // duplicates copy long clean documents, so that one or two changed
    // tokens keep a near-duplicate above the chain's 0.7 Jaccard threshold
    val originals = docs.take(nClean).filter(_._3.count(_ == ' ') >= 44).toIndexedSeq
    for (_ <- 0 until nExact) {
      val o = originals(rnd.nextInt(originals.size))
      // half byte-identical, half equal only after normalization
      val text = if (rnd.nextBoolean()) o._3
        else java.text.Normalizer.normalize(o._3.toUpperCase(java.util.Locale.ROOT),
          java.text.Normalizer.Form.NFD)
      add(o._2, text, Truth(_, "exact_dup", o._1, 1.0))
    }
    for (_ <- 0 until nNear) {
      val o = originals(rnd.nextInt(originals.size))
      val toks = o._3.split(" ")
      val subs = 1 + rnd.nextInt(2)
      for (s <- 0 until subs) {
        val pos = (toks.length * (s + 1)) / (subs + 1)
        toks(pos) = word(o._2) + "x"
      }
      val text = toks.mkString(" ")
      val j = jaccard(shingles(normalize(o._3)), shingles(normalize(text)))
      add(o._2, text, Truth(_, "near_dup", o._1, j))
    }
    for (i <- 0 until nContam) {
      val l = language(rnd)
      val e = eval(i % nEval)
      add(l, cleanText(l, 12 + rnd.nextInt(10)) + " " + e._2, Truth(_, "contaminated", e._1, 0.0))
    }
    // file order is shuffled; ids keep originals first
    Corpus(rnd.shuffle(docs.toSeq), eval, truth.toSeq)
  }

  def writeCorpus(dir: File, c: Corpus): Unit = {
    val json = new ObjectMapper()
    writeLines(new File(dir, "docs/part-0.jsonl"), c.docs.iterator.map { case (id, l, t) =>
      json.writeValueAsString(json.createObjectNode().put("doc_id", id).put("lang", l).put("text", t))
    })
    writeLines(new File(dir, "eval/part-0.jsonl"), c.eval.iterator.map { case (id, t) =>
      json.writeValueAsString(json.createObjectNode().put("doc_id", id).put("text", t))
    })
    writeLines(new File(dir, "truth.tsv"), c.truth.iterator.map(t =>
      s"${t.id}\t${t.kind}\t${t.of}\t${t.jaccard}"))
  }

  def readTruth(dir: File): Seq[Truth] = readLines(new File(dir, "truth.tsv")).map { l =>
    val p = l.split("\t")
    Truth(p(0).toLong, p(1), p(2).toLong, p(3).toDouble)
  }

  // --------------------------------------------------------- vectors

  /** Clustered vectors: `base` rows, one append batch of `appendSize`
    * new rows, `deletes` distinct base ids to delete after the append,
    * and a pool of query vectors. Ids are row positions: base 0 until
    * n, the append's ids follow the base.
    */
  final case class Vectors(dim: Int, base: Array[Array[Float]],
      append: Array[Array[Float]], deletes: Array[Long], queries: Array[Array[Float]]) {
    def appendIds: Range = base.length until base.length + append.length
  }

  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, appendSize: Int, deletes: Int,
      nQueries: Int): Vectors = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(clusters, dim)(rnd.nextFloat() * 2 - 1)
    def point(): Array[Float] = {
      val c = centers(rnd.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + rnd.nextGaussian() * 0.45).toFloat)
    }
    val base = Array.fill(n)(point())
    val append = Array.fill(appendSize)(point())
    val dead = rnd.shuffle((0L until n.toLong).toVector).take(deletes).toArray
    Vectors(dim, base, append, dead, Array.fill(nQueries)(point()))
  }

  private def writeF32(f: File, rows: Array[Array[Float]]): Unit = {
    f.getParentFile.mkdirs()
    val dim = if (rows.isEmpty) 0 else rows(0).length
    val buf = ByteBuffer.allocate(8 + rows.length * dim * 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(rows.length).putInt(dim)
    rows.foreach(_.foreach(buf.putFloat))
    Files.write(f.toPath, buf.array())
  }

  def writeVectors(dir: File, v: Vectors): Unit = {
    writeF32(new File(dir, "base.f32"), v.base)
    writeF32(new File(dir, "queries.f32"), v.queries)
    writeF32(new File(dir, "append.f32"), v.append)
    writeLines(new File(dir, "deletes.txt"), v.deletes.iterator.map(_.toString))
  }
}
