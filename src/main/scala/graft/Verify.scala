package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Checked dump contract: every top-level column of a dumped result
    * must be an ATOMIC type. The driver canonicalizes dumps by
    * sorting all columns in pandas, which cannot order
    * array/map/struct cells (r9: q_bpe_segment's raw array<string>
    * threw "unhashable type: numpy.ndarray" driver-side while the
    * local mimic str()-ed it past the gate). Enforced at dump time,
    * plan-only — no job runs. House fix for a violation: stringify
    * via array_join / to_json.
    */
  def assertScalarDump(schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType]
        || f.dataType.isInstanceOf[MapType]
        || f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    require(bad.isEmpty,
      s"non-scalar dump columns (driver canonicalizer cannot sort " +
        s"them — stringify via array_join/to_json): ${bad.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (local verify aid)
    val only = SparkEntry.onlyFilter
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertScalarDump(df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // restrict the oracle map by the same SPARK_GRAFT_ONLY set — else a
    // subset dump pairs with the full oracle list and the compare
    // reports every skipped query as a spurious failure
    val json = SparkEntry.oracleSql
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
