package graft.pipeline

import graft.{SparkTestBase, SyllabusFixture}

/** Test double simulating transient API failures: every `everyNth`-th
  * input (selected by a stable key hash) throws on its first
  * `failTimes` attempts, then succeeds. Attempt counts live in a
  * JVM-static map — valid for local-mode tests only, where every task
  * shares the JVM.
  */
final class FlakyQuestionModel(inner: QuestionModel, everyNth: Int,
    failTimes: Int) extends QuestionModel {

  private def flaky(key: String): Boolean = {
    if (math.floorMod(key.hashCode, everyNth) != 0) return false
    val n = FlakyQuestionModel.attempts.merge(key, Int.box(1),
      (a: Integer, b: Integer) => Int.box(a + b))
    n <= failTimes
  }

  override def extractSubtopics(topic: SyllabusTopic, subject: String,
      academicClass: String): Seq[Subtopic] = {
    if (flaky(s"sub|${topic.doc_id}#${topic.topic_seq}"))
      throw new RuntimeException("transient: rate limited")
    inner.extractSubtopics(topic, subject, academicClass)
  }

  override def generateQuestions(batch: Seq[PlannedQuestion],
      context: Option[Subtopic]): Seq[Question] = {
    if (flaky("gen|" + batch.map(_.question_id).mkString(",")))
      throw new RuntimeException("transient: rate limited")
    inner.generateQuestions(batch, context)
  }
}

object FlakyQuestionModel {
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def reset(): Unit = attempts.clear()
}

/** The reference's open issues — retry logic, rate limiting, request
  * batching (README.md:325-328) — live on the model seam
  * ([[ResilientQuestionModel]], SURVEY §4.2). These cases prove the
  * degradation contract: transient failures + bounded retry reproduce
  * the golden output EXACTLY; permanent failures degrade to empty
  * (syllabus_ai_graph.py:88-90,269-271) without failing the run.
  */
class FlakyModelSpec extends SparkTestBase {

  private val fixture = SyllabusFixture.path
  private val stub = new StubQuestionModel

  private def pipelineWith(m: QuestionModel) = new SyllabusPipeline(
    m, subject = "chemistry", academicClass = "Form 1-2")

  private def canon(p: SyllabusPipeline): Seq[Question] =
    p.run(spark, fixture).collect().sortBy(_.question_id).toSeq

  test("transient failures + bounded retry reproduce the golden output exactly") {
    FlakyQuestionModel.reset()
    val flaky = new FlakyQuestionModel(stub, everyNth = 2, failTimes = 1)
    val resilient = new ResilientQuestionModel(flaky, maxRetries = 2)
    val got = canon(pipelineWith(resilient))
    val golden = canon(pipelineWith(stub))
    assert(got.nonEmpty && got == golden,
      "a retry-recovered run must be indistinguishable from a clean run")
  }

  test("permanent failures degrade to empty per call — the run completes, parse-or-empty") {
    FlakyQuestionModel.reset()
    val broken = new FlakyQuestionModel(stub, everyNth = 3, failTimes = Int.MaxValue)
    val resilient = new ResilientQuestionModel(broken, maxRetries = 1)
    val got = canon(pipelineWith(resilient)) // must not throw
    val golden = canon(pipelineWith(stub))
    assert(got.nonEmpty && got.size < golden.size,
      "selected calls should have degraded to empty, the rest survive")
    // surviving questions still honor every generation invariant (ids
    // can shift vs golden: duplicate topic TITLES share an id space, so
    // a degraded occurrence renumbers its siblings — content equality
    // only holds per-id for unaffected topics, not globally)
    assert(got.forall(q => q.choices.size == 4 && q.choices.count(_.is_correct) == 1))
    assert(got.map(_.question_id).distinct.size == got.size)
  }

  test("maxBatchSize request-splitting is semantics-preserving for a well-behaved model") {
    val split = new ResilientQuestionModel(stub, maxRetries = 0, maxBatchSize = 2)
    val got = canon(pipelineWith(split))
    val golden = canon(pipelineWith(stub))
    assert(got == golden)
  }

  test("retry budget is bounded: a permanently failing call is attempted 1+maxRetries times") {
    FlakyQuestionModel.reset()
    val counting = new QuestionModel {
      override def extractSubtopics(t: SyllabusTopic, s: String, c: String): Seq[Subtopic] = {
        FlakyQuestionModel.attempts.merge("count", Int.box(1),
          (a: Integer, b: Integer) => Int.box(a + b))
        throw new RuntimeException("always down")
      }
      override def generateQuestions(b: Seq[PlannedQuestion],
          ctx: Option[Subtopic]): Seq[Question] = Nil
    }
    val r = new ResilientQuestionModel(counting, maxRetries = 3)
    val topic = SyllabusTopic("d", 1L, "T", Nil)
    assert(r.extractSubtopics(topic, "s", "c") == Nil)
    assert(FlakyQuestionModel.attempts.get("count") == 4)
  }
}
