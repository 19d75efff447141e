package perfbench

import java.io.File
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.SparkSession

import graft.pipeline._
import graft.sources.docx.DocxDataSource

/** Counts calls through the model seam. The counters are static because
  * Spark tasks run deserialized copies of the model; in local mode they
  * share this JVM.
  */
final class CountingModel(inner: QuestionModel) extends QuestionModel {
  override def extractSubtopics(topic: SyllabusTopic, subject: String,
      academicClass: String): Seq[Subtopic] = {
    CountingModel.extractCalls.increment()
    inner.extractSubtopics(topic, subject, academicClass)
  }

  override def generateQuestions(batch: Seq[PlannedQuestion],
      context: Option[Subtopic]): Seq[Question] = {
    CountingModel.generateCalls.increment()
    inner.generateQuestions(batch, context)
  }
}

object CountingModel {
  val extractCalls, generateCalls = new LongAdder
  def reset(): Unit = { extractCalls.reset(); generateCalls.reset() }
  def calls: Long = extractCalls.sum + generateCalls.sum
}

/** The reference's own dataflow: docx → topics → subtopics → plan →
  * batched generation → per-topic JSON files, over many small files.
  * Bound by per-job overhead and parsing; dedup, ml and similarity do
  * no work here.
  */
final class SyllabusDocx(sizes: Sizes) extends Workload {
  import SyllabusDocx._

  val name = "syllabus_docx"
  val spans = Seq("sources.docx.read", "pipeline.topics.segment", "pipeline.extract_subtopics",
    "pipeline.planner.plan", "pipeline.generate", "pipeline.sink.save").map(_ -> false)
  private var docs: Seq[Gen.DocxDoc] = Nil
  private var input: File = _
  private def topicCount: Int = docs.map(_.titles.size).sum

  def setup(spark: SparkSession, dir: File, seed: Long, tracer: Tracer): Unit = {
    input = new File(dir, "docx")
    docs = Gen.docx(input, seed, sizes.syllabusDocs, sizes.topicsPerDoc)
  }

  def warmUp(spark: SparkSession, dir: File, seed: Long): Unit = {
    val warm = new File(dir, "warm")
    val warmDocs = Gen.docx(warm, seed + 1, Workload.warmSize(sizes.syllabusDocs), sizes.topicsPerDoc)
    (0 until Workload.WarmPasses).foreach { i =>
      val p = pass(spark, warm, new File(dir, s"warm-out-$i"), new Tracer(false, ""), warmDocs)
      require(p.problems.isEmpty, s"warm-up output is wrong: ${p.problems.mkString("; ")}")
    }
  }

  /** Questions ÷ (generation calls × batch size): the share of the
    * model's batch capacity the pipeline used, which sets how many calls
    * (the reference's API cost) a topic takes.
    */
  private def batchFill(p: Pass): Double =
    p.questions.size.toDouble / math.max(p.generateCalls * BatchSize, 1)

  private def pass(spark: SparkSession, in: File, out: File, tracer: Tracer,
      expected: Seq[Gen.DocxDoc]): Pass = {
    CountingModel.reset()
    val pipe = new SyllabusPipeline(new CountingModel(new StubQuestionModel), "Biology", "Form 3")
    val st = new Stages(tracer)
    val t0 = System.nanoTime()
    // untraced, the engine's own run composes the dataflow; traced, the
    // same calls run stage by stage, each in its layer's span
    if (!tracer.enabled) pipe.run(spark, in.getPath, Some(new JsonOutputManager(out.getPath)))
    else tracer.span(root) {
      val elements = st("sources.docx.read")(DocxDataSource.read(spark, in.getPath))
      val topics = st("pipeline.topics.segment")(Topics.segmentTopics(elements, Gen.Marker))
      val subs = st("pipeline.extract_subtopics")(pipe.extractSubtopics(topics))
      val plan = st("pipeline.planner.plan")(Planner.plan(subs, pipe.perSubtopic, idsPerTopic = true))
      val questions = st("pipeline.generate")(pipe.generate(plan, subs))
      tracer.span("pipeline.sink.save")(new JsonOutputManager(out.getPath).save(questions))
    }
    val wall = System.nanoTime() - t0
    st.release()
    val calls = CountingModel.calls
    val generateCalls = CountingModel.generateCalls.sum
    val qs = Oracles.readQuestions(out)
    val bytes = Stats.bytesUnder(out)
    // outputs stay until the run's work dir is removed: deleting thousands
    // of small files between passes would load the disk during the next one
    System.err.println(f"[perfbench] $name pass: ${wall / 1e9}%.3f s")
    Pass(wall, calls, generateCalls, qs, Oracles.checkSyllabus(qs, expected), bytes, st)
  }

  def measure(spark: SparkSession, dir: File, seconds: Double): Outcome = {
    val off = new Tracer(false, "")
    val passes = Workload.loop(seconds, 3)(i => pass(spark, input, new File(dir, s"out-$i"), off, docs))
    passes.flatMap(_.problems).take(5).foreach(p => System.err.println(s"[perfbench] $name: $p"))
    Outcome(passes.size, passes.count(_.problems.nonEmpty),
      Stats.median(passes.map(p => docs.size / (p.wallNs / 1e9))),
      Stats.median(passes.map(batchFill)),
      Seq(Metric("model_calls_per_topic", Stats.median(passes.map(_.calls.toDouble / topicCount)), "count")))
  }

  def traced(spark: SparkSession, dir: File, seconds: Double, tracer: Tracer): TracedOutcome = {
    val off = new Tracer(false, "")
    val pairs = Workload.loop(seconds, 1) { i =>
      val u = pass(spark, input, new File(dir, s"out-u$i"), off, docs)
      val t = pass(spark, input, new File(dir, s"out-t$i"), tracer, docs)
      (u, t)
    }
    val last = pairs.last._2
    val all = pairs.flatMap(p => Seq(p._1, p._2))
    TracedOutcome(all.size, all.count(_.problems.nonEmpty),
      Seq(
        Metric("sources.docx.read.elements", last.stages.rowsOf("sources.docx.read").toDouble, "count"),
        Metric("pipeline.generate.batch_fill", batchFill(last), "share"),
        Metric("pipeline.sink.save.bytes_written", last.bytesWritten.toDouble, "bytes")),
      Stats.median(pairs.map(p => Workload.ms(p._1.wallNs))),
      Stats.median(pairs.map(p => Workload.ms(p._2.wallNs))),
      Main.spanSelfMsPerRun(tracer, root))
  }
}

object SyllabusDocx {
  val BatchSize: Int = new SyllabusPipeline(new StubQuestionModel, "", "").batchSize

  final case class Pass(wallNs: Long, calls: Long, generateCalls: Long,
      questions: Seq[Oracles.Question], problems: Seq[String], bytesWritten: Long, stages: Stages)
}
