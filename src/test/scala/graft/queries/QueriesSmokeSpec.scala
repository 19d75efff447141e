package graft.queries

import graft.{SparkEntry, SparkTestBase, SyllabusFixture}

/** Every declared query runs at sf0.001 and returns rows (> 0 except
  * the legitimately-empty ones); entry() satisfies the driver smoke.
  * Value-level correctness is the DuckDB oracle's job (tools/check.py
  * / the driver's CORRECTNESS gate).
  */
class QueriesSmokeSpec extends SparkTestBase {

  private val mayBeEmpty = Set(
    "q_join_anti", // every customer has orders in the synthetic data
    "q_dedup_minhash", "q_simhash_near", "q_ngram_jaccard")
  // q_embed_neardup deliberately NOT here: its threshold is tuned to
  // return rows at every SF (round-1 regression: 0.9 => always empty)

  // queries over the reference syllabus: cancelled where it is absent
  private val readsReference = Set("q_docx", "q_pipeline")

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      if (readsReference(name)) SyllabusFixture.assumeReference()
      val df = fn(spark, sf)
      // checked dump contract: scalar-only top-level columns (the
      // driver's pandas canonicalizer cannot sort array/map/struct
      // cells — r9's q_bpe_segment regression)
      graft.Verify.assertScalarDump(df.schema)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("assertScalarDump rejects a top-level array column") {
    import org.apache.spark.sql.functions._
    val bad = spark.range(1).select(array(lit("a"), lit("b")).as("xs"))
    val e = intercept[IllegalArgumentException] {
      graft.Verify.assertScalarDump(bad.schema)
    }
    assert(e.getMessage.contains("xs: array<string>"))
    // and the stringified form passes — the house fix
    graft.Verify.assertScalarDump(
      bad.select(array_join(col("xs"), "><").as("xs")).schema)
  }
}
