package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, SyllabusFixture}

/** M3 pipeline parity: planner invariants (SURVEY.md §5.2(4)) and
  * end-to-end runs with the deterministic stub (§5.2(2)) on the
  * synthetic syllabus (FIXTURES.md §4). The golden-sample test compares
  * against rows of the reference's own syllabus (FIXTURES.md §1) and is
  * cancelled where that file is absent.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val fixture = SyllabusFixture.path
  private def pipeline = new SyllabusPipeline(
    new StubQuestionModel, subject = "chemistry", academicClass = "Form 1-2")

  private lazy val topics = Topics.fromDocx(spark, fixture).cache()
  private lazy val subtopics = pipeline.extractSubtopics(topics).cache()
  private lazy val plan = Planner.plan(subtopics, perSubtopic = 9, idsPerTopic = true).cache()

  test("subtopic extraction: every topic yields ≥1 subtopic; names unique per topic") {
    val perTopic = subtopics.groupBy("topic_title").count().collect()
    assert(perTopic.length == 6) // distinct titles (dup topics yield same subtopic names)
    assert(subtopics.count() ==
      subtopics.select("topic_title", "subtopic_name").distinct().count())
  }

  test("plan invariants: ≥9 per subtopic, unique ids, balanced difficulties, concept areas set") {
    val n = plan.count()
    assert(n == subtopics.select("topic_title", "subtopic_name").distinct().count() * 9)
    assert(plan.select("question_id").distinct().count() == n)
    assert(Planner.difficultyBalance(plan).filter(col("imbalance") > 1).count() == 0)
    assert(plan.filter(col("concept_area").isNull || col("concept_area") === "").count() == 0)
    assert(plan.filter(col("status") =!= "planned").count() == 0)
  }

  test("generation: id/difficulty preserved, 4 choices with exactly 1 correct, batch cap honored") {
    val qs = pipeline.generate(plan, subtopics).cache()
    // recursion_limit parity: ≤ 12 batches × 5 per topic
    val cappedPlan = plan.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("topic")
          .orderBy(length(col("question_id")), col("question_id")))) // numeric id order
      .filter(col("rn") <= 12 * 5)
    assert(qs.count() == cappedPlan.count())
    // ids preserved 1:1 against the capped plan
    assert(qs.select("question_id").except(cappedPlan.select("question_id")).count() == 0)
    val byId = qs.select("question_id", "difficulty")
      .join(cappedPlan.select(col("question_id"), col("difficulty").as("planned_diff")), "question_id")
    assert(byId.filter(col("difficulty") =!= col("planned_diff")).count() == 0)
    assert(qs.filter(size(col("choices")) =!= 4).count() == 0)
    assert(qs.filter(size(filter(col("choices"), c => c.getField("is_correct"))) =!= 1).count() == 0)
    assert(qs.filter(size(col("solution.steps")) === 0 || col("hint") === "").count() == 0)
    qs.unpersist()
  }

  test("generation is deterministic: two runs produce identical rows") {
    val a = pipeline.generate(plan, subtopics).collect().sortBy(_.question_id)
    val b = pipeline.generate(plan, subtopics).collect().sortBy(_.question_id)
    assert(a.toSeq == b.toSeq)
  }

  test("context miss ⇒ empty batch (reference O10 miss semantics)") {
    val orphanPlan = Seq(PlannedQuestion("q-x-1", "T", "no-such-subtopic",
      "easy", "c", "planned")).toDS()
    assert(pipeline.generate(orphanPlan, subtopics).count() == 0)
  }

  test("E2E run + JSON sink: per-topic dirs, append accumulates, golden schema") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_out").toString
    val qs = pipeline.run(spark, fixture, Some(new JsonOutputManager(out)))
    val n = qs.count()
    assert(n > 0)
    // duplicate topic titles merge into one partition dir (O13 parity)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 6 && dirs.forall(_.startsWith("topic_dir=")))
    val back = spark.read.json(out)
    assert(back.count() == n)
    for (f <- Seq("question_id", "text", "topic", "sub_topic", "academic_class",
        "examination_level", "difficulty", "tags", "choices", "solution", "hint", "metadata"))
      assert(back.columns.contains(f), s"missing golden field $f")
    // second save appends (the reference's read-concat-rewrite semantics)
    new JsonOutputManager(out).save(qs)
    assert(spark.read.json(out).count() == 2 * n)
  }

  test("observed run: metrics come from the materializing action, and agree with the data") {
    val (ds, metrics) = pipeline.runObserved(spark, fixture)
    val n = ds.count() // the one action — it both materializes AND meters
    val m = metrics()
    assert(m("n_questions") == n && n > 0)
    val chars = ds.collect().map(_.text.length.toLong).sum
    assert(m("question_chars") == chars)
    // lexicographic min/max over the cycling {easy, medium, hard}
    assert(m("min_difficulty") == "easy" && m("max_difficulty") == "medium")
  }

  test("golden: committed sample + schema DDL match exactly (SURVEY §5.2(2))") {
    SyllabusFixture.assumeReference()
    val qs = pipeline.run(spark, SyllabusFixture.Reference).toDF()
    assert(qs.schema.toDDL ==
      "question_id STRING,text STRING,topic STRING,sub_topic STRING," +
      "academic_class STRING,examination_level STRING,difficulty STRING," +
      "tags ARRAY<STRING>,choices ARRAY<STRUCT<text: STRING, is_correct: BOOLEAN NOT NULL>>," +
      "solution STRUCT<explanation: STRING, steps: ARRAY<STRING>>,hint STRING," +
      "metadata STRUCT<created_by: STRING, created_at: STRING, updated_at: STRING, " +
      "time_estimate: MAP<STRING, STRING>>")
    // MAP columns are not set-operation-comparable: compare canonical
    // JSON projections row-by-row instead
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("question_id")
        .select(to_json(struct(df.columns.map(col): _*)))
        .as[String].collect().toSeq
    val golden = spark.read.schema(qs.schema)
      .json(getClass.getResource("/golden_questions_sample.jsonl").getPath)
    assert(canon(qs.orderBy("question_id").limit(3)) == canon(golden))
  }

  test("topicsNum caps to the first n topics per document (reference default parity)") {
    val one = pipeline.run(spark, fixture, topicsNum = Some(1))
    val topics = one.select("topic").distinct().as[String].collect()
    // first marker in the synthetic syllabus, as in the reference, is
    // an "Analytical skills" occurrence
    assert(topics.toSeq == Seq("Analytical skills in chemistry"))
    val all = pipeline.run(spark, fixture)
    assert(one.count() < all.count())
  }

  test("sink rejects a file path (O16)") {
    val f = java.nio.file.Files.createTempFile("graft_not_a_dir", ".json")
    intercept[IllegalArgumentException](new JsonOutputManager(f.toString))
  }

  test("HTTP model drives the full DISTRIBUTED pipeline; output equals the stub golden run") {
    // VERDICT r4 #4: HttpQuestionModelSpec proves the wire shape
    // model-side; THIS runs the whole docx→questions pipeline through
    // the HTTP client inside executor mapPartitions/flatMapGroups
    // closures (@transient lazy client rebuild exercised where it
    // matters). The loopback handler reconstructs the typed inputs
    // from the ACTUAL prompts and delegates to the same deterministic
    // stub, so byte-equality of the two runs proves prompt
    // serialization + response parsing are lossless end to end.
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    val stub = new StubQuestionModel
    def blobBetween(prompt: String, after: String): String = {
      val i = prompt.indexOf(after)
      assert(i >= 0, s"prompt missing marker '$after'")
      val j = prompt.indexOf("Return a JSON object", i)
      prompt.substring(i + after.length, j).trim
    }
    def strArr(o: com.fasterxml.jackson.databind.node.ObjectNode,
        name: String, xs: Seq[String]): Unit = {
      val a = o.putArray(name); xs.foreach(a.add)
    }
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val req = mapper.readTree(new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      val prompt = req.path("messages").path(0).path("content").asText()
      val content: String =
        if (prompt.startsWith("You are an educational content analyzer")) {
          val t = mapper.readTree(
            blobBetween(prompt, "Here's the syllabus content for the topic:"))
          val elements = t.path("elements").elements().asScala.zipWithIndex.map {
            case (e, i) => SyllabusElement(i.toLong, e.path("element_type").asText(""),
              if (e.has("text")) Some(e.path("text").asText()) else None,
              if (e.has("table_rows"))
                Some(e.path("table_rows").elements().asScala
                  .map(r => r.elements().asScala.map(_.asText()).toSeq).toSeq)
              else None)
          }.toSeq
          val topic = SyllabusTopic(t.path("doc_id").asText(""),
            t.path("topic_seq").asLong(), t.path("title").asText(""), elements)
          val root = mapper.createObjectNode()
          val arr = root.putArray("subtopics")
          stub.extractSubtopics(topic, "chemistry", "Form 1-2").foreach { s0 =>
            val o = arr.addObject()
            o.put("subtopic_name", s0.subtopic_name)
            o.put("topic_title", s0.topic_title)
            o.put("academic_class", s0.academic_class)
            o.put("subject", s0.subject)
            strArr(o, "learning_objectives", s0.learning_objectives)
            strArr(o, "key_concepts", s0.key_concepts)
            strArr(o, "assessment_criteria", s0.assessment_criteria)
            strArr(o, "suggested_activities", s0.suggested_activities)
          }
          mapper.writeValueAsString(root)
        } else {
          val planArr = mapper.readTree(blobBetween(prompt,
            "Now, generate questions according to this specific plan:"))
          val batch = planArr.elements().asScala.map(q => PlannedQuestion(
            q.path("question_id").asText(""), q.path("topic").asText(""),
            q.path("subtopic").asText(""), q.path("difficulty").asText(""),
            q.path("concept_area").asText(""), q.path("status").asText(""))).toSeq
          val ctx = Some(Subtopic("", batch.head.topic, "Form 1-2", "chemistry",
            Nil, Nil, Nil, Nil))
          val root = mapper.createObjectNode()
          val arr = root.putArray("questions")
          stub.generateQuestions(batch, ctx).foreach { q =>
            val o = arr.addObject()
            o.put("question_id", q.question_id); o.put("text", q.text)
            o.put("topic", q.topic); o.put("sub_topic", q.sub_topic)
            o.put("academic_class", q.academic_class)
            o.put("examination_level", q.examination_level)
            o.put("difficulty", q.difficulty)
            strArr(o, "tags", q.tags)
            val cs = o.putArray("choices")
            q.choices.foreach { c =>
              val co = cs.addObject()
              co.put("text", c.text); co.put("is_correct", c.is_correct)
            }
            val sol = o.putObject("solution")
            sol.put("explanation", q.solution.explanation)
            strArr(sol, "steps", q.solution.steps)
            o.put("hint", q.hint)
          }
          mapper.writeValueAsString(root)
        }
      // fence the content — a pipeline-volume exercise of stripFences
      val env = mapper.createObjectNode()
      env.putArray("choices").addObject().putObject("message")
        .put("content", "```json\n" + content + "\n```")
      val bytes = mapper.writeValueAsString(env)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"
      val httpPipeline = new SyllabusPipeline(
        new ResilientQuestionModel(new HttpQuestionModel(url, "sk-test"), maxRetries = 1),
        subject = "chemistry", academicClass = "Form 1-2")
      val viaHttp = httpPipeline.run(spark, fixture).collect().sortBy(_.question_id)
      // engine metadata is stub-minted and never crosses the wire —
      // the HTTP path yields metadata = None by contract
      val golden = pipeline.run(spark, fixture).collect().sortBy(_.question_id)
        .map(_.copy(metadata = None))
      assert(viaHttp.nonEmpty && viaHttp.length == golden.length)
      assert(viaHttp.toSeq == golden.toSeq)
    } finally server.stop(0)
  }
}
