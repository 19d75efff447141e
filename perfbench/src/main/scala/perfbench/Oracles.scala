package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Correctness checks in plain Scala. None of them calls engine code:
  * each restates the expected answer from the generator's ground truth.
  */
object Oracles {

  // ---------------------------------------------------- syllabus_docx

  /** Questions the pipeline must emit for a topic with `tables` tables:
    * one subtopic per table (one overview subtopic without tables), 9
    * planned questions per subtopic, at most 12 batches of 5 per topic.
    */
  def expectedQuestions(tables: Int): Int = math.min(9 * math.max(tables, 1), 60)

  final case class Question(id: String, topic: String, correctChoices: Int)

  /** Every JSON line under `dir`, recursively. */
  def readQuestions(dir: File): Seq[Question] = {
    val mapper = new ObjectMapper()
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".json")) Seq(f) else Nil
    files(dir).flatMap(Gen.readLines).filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      Question(n.get("question_id").asText(), n.get("topic").asText(),
        n.get("choices").elements().asScala.count(_.get("is_correct").asBoolean()))
    }
  }

  /** Problems with the pipeline output against the manifest; empty
    * when the output is correct.
    */
  def checkSyllabus(questions: Seq[Question], docs: Seq[Gen.DocxDoc]): Seq[String] = {
    val expected = docs.flatMap(d => d.titles.zip(d.tables)).map { case (t, n) => t -> expectedQuestions(n) }.toMap
    val got = questions.groupBy(_.topic).map { case (t, qs) => t -> qs.size }
    val wrongCounts = (expected.keySet ++ got.keySet).toSeq.sorted
      .filter(t => expected.get(t) != got.get(t))
      .map(t => s"topic '$t': expected ${expected.getOrElse(t, 0)} questions, got ${got.getOrElse(t, 0)}")
    val dupIds = questions.groupBy(_.id).collect { case (id, qs) if qs.size > 1 => s"question id '$id' repeated" }
    val badChoices = questions.filter(_.correctChoices != 1)
      .map(q => s"question '${q.id}' has ${q.correctChoices} correct choices")
    (wrongCounts ++ dupIds.toSeq.sorted ++ badChoices).take(20)
  }

  // ---------------------------------------------------- curate_corpus

  final case class CurateScore(dupRecall: Double, falseDropRate: Double, problems: Seq[String])

  /** Scores the surviving (doc_id, batch_id) rows against the planted
    * truth. A problem is an exact-duplicate group with more than one
    * survivor, a surviving contaminated document, or batch ids that are
    * not consecutive `batchSize` blocks in doc_id order.
    */
  def checkCurate(truth: Seq[Gen.Truth], survivors: Seq[(Long, Long)], batchSize: Int): CurateScore = {
    val alive = survivors.map(_._1).toSet
    val dups = truth.filter(t => t.kind == "exact_dup" || t.kind == "near_dup")
    val dupRecall = dups.count(t => !alive(t.id)).toDouble / math.max(dups.size, 1)
    val clean = truth.filter(_.kind == "clean")
    val falseDrop = clean.count(t => !alive(t.id)).toDouble / math.max(clean.size, 1)
    val exactGroups = truth.filter(_.kind == "exact_dup").groupBy(_.of)
    val groupProblems = exactGroups.toSeq.sortBy(_._1).collect {
      case (orig, ds) if (ds.map(_.id) :+ orig).count(alive) > 1 =>
        s"exact-duplicate group of $orig has ${(ds.map(_.id) :+ orig).count(alive)} survivors"
    }
    val contam = truth.filter(t => t.kind == "contaminated" && alive(t.id))
      .map(t => s"contaminated document ${t.id} survived")
    val sorted = survivors.sortBy(_._1)
    val batchProblems = sorted.zipWithIndex.collect {
      case ((id, b), i) if b != i / batchSize => s"document $id in batch $b, expected ${i / batchSize}"
    }
    val extra = survivors.map(_._1).filterNot(truth.map(_.id).toSet).map(id => s"unknown document $id")
    CurateScore(dupRecall, falseDrop, (groupProblems ++ contam ++ batchProblems ++ extra).take(20))
  }

  // ----------------------------------------------------- ann_serve_rw

  /** Brute-force exact top-k by (cosine desc, id asc) over the ids for
    * which `alive` holds; `vecs(id)` is vector `id`, `norms(id)` its norm.
    */
  def exactTopK(vecs: Array[Array[Float]], norms: Array[Double], alive: Int => Boolean,
      q: Array[Float], k: Int): Seq[Long] = {
    var qn = 0.0
    q.foreach(x => qn += x.toDouble * x)
    qn = math.sqrt(qn)
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (a: (Double, Int), b: (Double, Int)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1) else Integer.compare(b._2, a._2))
    var id = 0
    while (id < vecs.length) {
      if (alive(id)) {
        val v = vecs(id)
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i).toDouble * q(i); i += 1 }
        val cos = dot / (norms(id) * qn)
        heap.add((cos, id))
        if (heap.size > k) heap.poll()
      }
      id += 1
    }
    heap.asScala.toSeq.sortBy { case (c, i) => (-c, i) }.map(_._2.toLong)
  }

  def norms(vecs: Array[Array[Float]]): Array[Double] =
    vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))

  /** Share of the exact top-k found among the served ids. */
  def recall(served: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else exact.count(served.toSet).toDouble / exact.size
}
