package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{SparkTestBase, SyllabusFixture}

/** Incremental ingestion: documents dropped into the watch dir are
  * discovered exactly once (source offsets) and append to the sink; a
  * later arrival triggers only its own work. End-to-end delivery with
  * the blind-append sink is at-least-once (see the class doc).
  */
class StreamingPipelineSpec extends SparkTestBase {

  private val fixture = Paths.get(SyllabusFixture.path)

  test("newly arrived docx files flow through the pipeline incrementally") {
    val watch = Files.createTempDirectory("graft_watch").toString
    val out = Files.createTempDirectory("graft_stream_pipe_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_pipe_ckpt").toString
    val pipeline = new SyllabusPipeline(new StubQuestionModel,
      subject = "chemistry", academicClass = "Form 1-2")
    val streaming = new StreamingSyllabusPipeline(pipeline)
    val sink = new ParquetOutputManager(out)

    // first document present before start
    Files.copy(fixture, Paths.get(watch, "doc_a.docx"), StandardCopyOption.REPLACE_EXISTING)
    val q = streaming.start(spark, watch, sink, ckpt)
    try {
      q.processAllAvailable()
      val afterFirst = spark.read.parquet(out).count()
      assert(afterFirst > 0)

      // second document arrives while running
      Files.copy(fixture, Paths.get(watch, "doc_b.docx"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val afterSecond = spark.read.parquet(out)
      assert(afterSecond.count() == 2 * afterFirst) // same doc ⇒ same question count
      // no reprocessing of doc_a: per-topic question counts exactly doubled
      val perTopic = afterSecond.groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perTopic.values.forall(_ % 2 == 0))
      // ids unique ACROSS micro-batches (epoch prefix) even though
      // both documents repeat every topic title
      assert(afterSecond.select("question_id").distinct().count() == afterSecond.count())
    } finally q.stop()
  }

  test("a corrupt docx is skipped; later documents still flow") {
    val watch = Files.createTempDirectory("graft_watch2").toString
    val out = Files.createTempDirectory("graft_stream_pipe_out2").toString
    val ckpt = Files.createTempDirectory("graft_stream_pipe_ckpt2").toString
    val pipeline = new SyllabusPipeline(new StubQuestionModel,
      subject = "chemistry", academicClass = "Form 1-2")
    val streaming = new StreamingSyllabusPipeline(pipeline)
    val q = streaming.start(spark, watch, new ParquetOutputManager(out), ckpt)
    try {
      Files.write(Paths.get(watch, "broken.docx"), "not a zip at all".getBytes)
      q.processAllAvailable() // must not throw or crash-loop
      Files.copy(fixture, Paths.get(watch, "good.docx"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() > 0)
    } finally q.stop()
  }
}
