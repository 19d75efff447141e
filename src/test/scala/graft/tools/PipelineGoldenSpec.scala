package graft.tools

import graft.{SparkTestBase, SyllabusFixture}

/** Drift guard for the q_pipeline golden manifest (VERDICT r15
  * next-round #6, the MultimodalGoldenSpec pattern): re-run the full
  * deterministic pipeline (docx parse → segmentation → stub subtopics
  * → plan → stub generation) and compare its per-topic aggregate to
  * the committed [[PipelineGolden.Rows]]. Any change to the parser,
  * planner, or stub templates fails HERE with the diff — never a
  * silent shift under a hash-checked oracle. q_pipeline reads the
  * reference's own syllabus (FIXTURES.md §1); the test is cancelled
  * where that file is absent.
  */
class PipelineGoldenSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("live pipeline aggregate matches the committed golden rows") {
    SyllabusFixture.assumeReference()
    import spark.implicits._
    val live = graft.queries.Core.defs("q_pipeline")(spark, sf)
      .select(col("topic"), col("n_questions").cast("long"),
        col("n_subtopics").cast("long"), col("n_difficulties").cast("long"))
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = PipelineGolden.Rows.sortBy(_._1)
    assert(live == want,
      s"pipeline output drifted from the golden manifest:\n live=$live\n want=$want\n" +
        "— if the change is DELIBERATE, update graft.tools.PipelineGolden.Rows")
  }
}
