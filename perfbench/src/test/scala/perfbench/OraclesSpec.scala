package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OraclesSpec extends AnyFunSuite {

  test("questions per topic: 9 per table, one overview without tables, capped at 60") {
    assert(Seq(0, 1, 2, 3, 6, 7).map(Oracles.expectedQuestions) == Seq(9, 9, 18, 27, 54, 60))
  }

  test("syllabus check: counts per topic, unique ids, one correct choice") {
    val docs = Seq(Gen.DocxDoc("a.docx", Seq("T1", "T2"), Seq(0, 2), 9, 7))
    def qs(topic: String, n: Int) = (1 to n).map(i => Oracles.Question(s"q-$topic-$i", topic, 1))
    val good = qs("T1", 9) ++ qs("T2", 18)
    assert(Oracles.checkSyllabus(good, docs).isEmpty)
    assert(Oracles.checkSyllabus(good.dropRight(1), docs) ==
      Seq("topic 'T2': expected 18 questions, got 17"))
    assert(Oracles.checkSyllabus(good :+ good.head.copy(topic = "T9"), docs).toSet == Set(
      "topic 'T9': expected 0 questions, got 1", "question id 'q-T1-1' repeated"))
    assert(Oracles.checkSyllabus(good.updated(0, good.head.copy(correctChoices = 2)), docs) ==
      Seq("question 'q-T1-1' has 2 correct choices"))
  }

  test("curate score against hand-computed truth") {
    // clean 0..3; 4 exact dup of 0; 5 near dup of 1; 6 contaminated; 7 junk
    val truth = Seq(
      Gen.Truth(0, "clean", -1, 0), Gen.Truth(1, "clean", -1, 0), Gen.Truth(2, "clean", -1, 0),
      Gen.Truth(3, "clean", -1, 0), Gen.Truth(4, "exact_dup", 0, 1.0), Gen.Truth(5, "near_dup", 1, 0.8),
      Gen.Truth(6, "contaminated", Gen.EvalIdBase, 0), Gen.Truth(7, "junk", -1, 0))
    // survivors 0, 1, 3, 5 in batches of 2: dup recall 1/2, false drops 1/4
    val s = Oracles.checkCurate(truth, Seq((0L, 0L), (1L, 0L), (3L, 1L), (5L, 1L)), 2)
    assert(s.dupRecall == 0.5 && s.falseDropRate == 0.25 && s.problems.isEmpty)
    val bad = Oracles.checkCurate(truth, Seq((0L, 0L), (4L, 0L), (6L, 0L)), 2)
    assert(bad.problems.toSet == Set(
      "exact-duplicate group of 0 has 2 survivors",
      "contaminated document 6 survived",
      "document 6 in batch 0, expected 1"))
  }

  test("exact top-k by cosine with id tie-break, over live ids only") {
    val vecs = Array(Array(1f, 0f), Array(0f, 1f), Array(2f, 0f), Array(1f, 1f), Array(-1f, 0f))
    val norms = Oracles.norms(vecs)
    // cosine to (1,0): ids 0 and 2 tie at 1.0, id 3 at 0.707, id 1 at 0, id 4 at -1
    assert(Oracles.exactTopK(vecs, norms, _ => true, Array(1f, 0f), 3) == Seq(0L, 2L, 3L))
    assert(Oracles.exactTopK(vecs, norms, _ != 0, Array(1f, 0f), 3) == Seq(2L, 3L, 1L))
    assert(Oracles.recall(Seq(0L, 3L, 9L), Seq(0L, 2L, 3L)) == 2.0 / 3)
  }
}
