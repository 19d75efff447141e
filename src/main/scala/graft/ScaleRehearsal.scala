package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  ShuffleQueryStageExec}
import org.apache.spark.sql.functions._

import graft.streaming.ConfScope

/** Scale rehearsal above the driver's sf0.1: replicate the sf0.1
  * tables K× with per-replica key strides (disjoint key spaces, so
  * joins/graphs scale linearly and expected answers are K× the base
  * where counting is additive), then time the heavy query set at base
  * and at scale and dump the plans whose SHAPE must change with scale
  * — the triangle-count broadcast cutoff and the AQE skew-join split.
  * Run:
  *
  *   gen  — write replicated parquet to SPARK_GRAFT_SCALE_DIR
  *   run  — time the heavy set there, write SPARK_GRAFT_SCALE_OUT
  *   all  — gen, then run (the default)
  *
  * Key strides keep every replica's keyspace disjoint (1e7 per
  * replica, far above any sf0.1 key). TWO corpus modes for the
  * text/embedding tables:
  *
  *  - default (near-dup): document text gets a per-replica suffix
  *    token so replicas are NEAR-duplicates (exact dedup keeps them
  *    apart; near-dup/shingle paths see K×-sized buckets — the skew
  *    stress case), embeddings reused verbatim (K× bucket occupancy).
  *    Candidate-pair growth here measures true duplication (quadratic
  *    in cluster size BY DEFINITION — the pair output itself grows
  *    that way), NOT the plan.
  *  - SPARK_GRAFT_SCALE_DISJOINT=1: every token of a replica gets a
  *    `_r<rep>` suffix (shingles/windows never collide across
  *    replicas) and replica embeddings get a deterministic per-rep
  *    sign-flip pattern (cross-replica cosines far from 1). A
  *    disjoint 20× corpus has ~20× the true pairs of the base, so
  *    any super-linear x-factor left is the PLAN's — this is the
  *    mode that attributes growth correctly.
  */
object ScaleRehearsal {
  private[graft] val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "all"
    require(Set("gen", "run", "all")(mode), s"unknown mode '$mode' (gen | run | all)")
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "scale_data")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val disjoint =
      sys.env.get("SPARK_GRAFT_SCALE_DISJOINT").exists(v => v == "1" || v == "true")
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_REHEARSAL.md"))
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // K× sf0.1 shuffles: 32 partitions whatever the core count (AQE
    // coalesces the small ones)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "gen" || mode == "all") gen(spark, src, dir, factor, disjoint)
    if (mode == "run" || mode == "all") run(spark, src, dir, factor, heavy, out, disjoint)
    spark.stop()
  }

  /** Cross the base table with a broadcast replica range and shift
    * the named long key columns by rep*Stride — one narrow scan per
    * table, no shuffle.
    */
  private def replicate(df: DataFrame, factor: Int, keys: Seq[String]): DataFrame = {
    val reps = broadcast(
      df.sparkSession.range(factor.toLong).select(col("id").as("graft_rep")))
    val crossed = df.crossJoin(reps)
    keys.foldLeft(crossed) { (d, k) =>
      d.withColumn(k, col(k) + col("graft_rep") * Stride)
    }
  }

  private def writeT(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The replicated fact tables and the long key columns each one
    * shifts by rep*Stride; every other table is copied as-is.
    */
  private[graft] val replicatedKeys: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Write `src`'s tables to `dir`: dimensions as-is, facts `factor`×
    * with strided keys and, for text and embeddings, the corpus mode
    * the header describes.
    */
  def gen(spark: SparkSession, src: String, dir: String, factor: Int,
      disjoint: Boolean): Unit = {
    def t(n: String) = Tables.load(spark, src, n)
    // dims stay as-is: every replica shares nations/regions, which is
    // what a real scale-up looks like (dims grow much slower than facts)
    writeT(t("region"), dir, "region")
    writeT(t("nation"), dir, "nation")
    // replica text: near-dup suffix token (default) or fully disjoint
    // per-token suffixes (disjoint mode — see header); n_chars
    // recomputed to stay consistent with the text either way
    val repText =
      if (disjoint)
        when(col("graft_rep") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            tk => concat(tk, lit("_r"), col("graft_rep"))), " "))
      else
        when(col("graft_rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("graft_rep")))
    // replica embeddings: verbatim (default — K× bucket occupancy) or
    // per-rep deterministic sign flips (disjoint — cross-replica
    // cosines far from 1, so near-dup structure stays base-sized
    // per replica)
    val repEmb =
      if (disjoint)
        when(col("graft_rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            when(((i + col("graft_rep")) % 3) === 0, -x).otherwise(x)))
      else col("embedding")
    replicatedKeys.foreach { case (name, keys) =>
      val r = replicate(t(name), factor, keys)
      val shaped = name match {
        case "documents" => r.withColumn("text", repText)
          .withColumn("n_chars", length(col("text")).cast("long"))
        case "embeddings" => r.withColumn("embedding", repEmb)
        case _ => r
      }
      // events.ts generation-dependent: ns data reads as raw long under
      // nanosAsLong (harmless for µs data, which passes through as
      // TIMESTAMP_NTZ); either form round-trips and Tables.normalizeTs
      // handles both on read
      ConfScope.nanosAsLong(spark)(writeT(shaped.drop("graft_rep"), dir, name))
    }
    println(s"[scale] wrote $factor x $src -> $dir" +
      (if (disjoint) " (disjoint-text mode)" else " (near-dup mode)"))
  }

  /** The heavy set: names in [[SparkEntry.benchQueries]], so every row
    * times the body Bench times (serve overrides included — an
    * override that builds its index on the first call per dir pays
    * that build in the first pass, and the min of 2 is the serve).
    */
  private val heavy: Seq[String] = Seq(
    // relational: joins, aggregation, windows, top-k, graph operators
    "q_join_broadcast", "q_join_salted", "q_join_semi", "q_agg", "q_window",
    "q_topk_grouped", "q_pagerank", "q_triangles", "q_shortest_path",
    "q_communities", "q_cooccur", "q_recs", "q_dpp", "q_zorder_prune",
    "q_attribution", "q_stats_refresh", "q_ks_test", "q_asof_native",
    "q_length_buckets",
    // dedup: MinHash/SimHash/shingle/substring, candidate → CC chains,
    // incremental classify against a built index
    "q_dedup_minhash", "q_dedup_near", "q_ngram_jaccard", "q_simhash_near",
    "q_dedup_groups", "q_dedup_groups2", "q_dedup_drop", "q_decontaminate",
    "q_substr_dedup", "q_split_leakproof", "q_dedup_incremental",
    "q_neardup_incremental", "q_dedup_audit",
    // semantic dedup: hierarchical blocking, and the demoted flat
    // single-level blocking as the CONTRAST row (its O(n·k) broadcast
    // argmin is expected to go super-linear)
    "q_embed_neardup", "q_semdedup", "q_semdedup_flat", "q_semdedup_incremental",
    // search and serving indexes: brute/postings search, IVF, PQ,
    // Matryoshka, graph, the eval over three engine builds
    "q_knn_join", "q_embed_search", "q_embed_search_postings", "q_sim_ivf",
    "q_sim_pq", "q_sim_mrl", "q_sim_graph", "q_eval_retrieval", "q_eval_ann",
    "q_cluster", "q_hard_negatives",
    // corpus statistics and trained text models
    "q_vocab", "q_mix_apply", "q_bpe_train", "q_bpe_apply",
    "q_quality_trained", "q_langid_trained",
    // media near-dedup: decode → blocking → alternating-star CC
    "q_image_search", "q_image_neardup", "q_audio_neardup", "q_video_neardup",
    // streams: stateful fold, ingest dedup, index classify, the Δ
    // index maintenance and the durable CC label store
    "q_stream_anomaly", "q_stream_ingest", "q_stream_neardup",
    "q_stream_semdedup", "q_stream_index_maint", "q_stream_cc_store")
  // q_stream_ann / q_stream_ann_pq are deliberately NOT heavy rows:
  // the fixture's query slice scales WITH the corpus, so their rows
  // would price a queries × corpus product no serving tier pays
  // (query rate does not scale with corpus size)

  /** Time each of `heavy` on `src` and on `dir` (the `gen` output),
    * run the plan-shape checks on `dir`, and write the report to `out`.
    */
  def run(spark: SparkSession, src: String, dir: String, factor: Int,
      heavy: Seq[String], out: java.nio.file.Path, disjoint: Boolean): Unit = {
    val sb = new StringBuilder
    sb ++= s"# SCALE REHEARSAL — ${factor}x sf0.1 (~sf${factor / 10.0})\n\n"
    sb ++= s"Data: `$dir` = `$src` replicated ${factor}x with disjoint key strides,\n"
    sb ++= (if (disjoint)
      "**disjoint-text mode**: replica tokens carry per-replica suffixes and\n" +
      "replica embeddings per-replica sign flips, so true-duplicate structure\n" +
      s"is ${factor}x the base's (not quadratic in replica count) — any\n" +
      "super-linear x-factor below is the PLAN's, not fixture duplication.\n"
    else
      "near-dup mode: replicas are near-duplicates of the base (the skew\n" +
      "stress case) — candidate-pair growth includes true quadratic\n" +
      "duplication growth by definition.\n")
    sb ++= "Timings are min of 2 passes after one untimed warmup at sf0.001;\n"
    sb ++= "`x` is the slowdown vs the same query on the base in THIS run\n"
    sb ++= s"(same JVM, same session) — at or under ${factor} on a fixed core\n"
    sb ++= "count means the plan has no super-linear term.\n\n"
    sb ++= "| query | base s | scale s | x | rows(scale) |\n|---|---|---|---|---|\n"
    val qs = SparkEntry.benchQueries
    // warmup on the SMALLEST available slice of the configured source
    // (codegen+JIT, untimed): hardcoding /root/testdata/sf0.001 made
    // warmup silently no-op on any box without that path, letting the
    // first timed pass absorb JIT cost — fall back to the src itself
    // and LOG a warmup failure instead of swallowing it
    val warmDir = {
      val tiny = new java.io.File("/root/testdata/sf0.001")
      if (tiny.isDirectory) tiny.getAbsolutePath else src
    }
    heavy.foreach { n =>
      try qs(n)(spark, warmDir).count()
      catch { case e: Throwable =>
        println(s"[scale] warmup $n failed (first timed pass will be cold): ${e.getMessage}")
      }
      Bench.scrub(spark)
    }
    // between-pass scrub, same as Bench: ~100 plans execute in this
    // one JVM, and leaked persisted blocks / state-store providers
    // would otherwise compound into slowdowns on LATER queries — the
    // rehearsal must measure plan shape, not harness debris
    def time(n: String, d: String): (Double, Long) = {
      var rows = 0L
      val ts = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        rows = qs(n)(spark, d).count()
        val t = (System.nanoTime() - t0) / 1e9
        Bench.scrub(spark)
        t
      }
      (ts.min, rows)
    }
    heavy.foreach { n =>
      val (base, _) = time(n, src)
      val (scaled, rows) = time(n, dir)
      val x = if (base > 0) scaled / base else Double.NaN
      sb ++= f"| $n | $base%.2f | $scaled%.2f | $x%.1f | $rows |\n"
      println(f"[scale] $n base=$base%.2fs scaled=$scaled%.2fs x=$x%.1f rows=$rows")
      System.gc() // drain ContextCleaner debris between queries
    }
    sb ++= triangleCheck(spark, src, dir, factor)
    sb ++= skewCheck(spark, dir, factor)
    sb ++= planDump(spark, dir)
    java.nio.file.Files.write(out,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scale] wrote $out")
  }

  /** Run the scaled graph through BOTH triangle-count plan shapes: the
    * default cutoff (50M edges — broadcast adjacency) and a forced
    * 1M-edge cutoff (shuffled fallback with edge-scaled partitioning).
    * Disjoint replicas ⇒ both must report exactly factor x the base.
    */
  private def triangleCheck(spark: SparkSession, src: String, dir: String,
      factor: Int): String = {
    val tri = SparkEntry.queries("q_triangles")
    val baseTri = tri(spark, src).collect()(0)
    val be = baseTri.getLong(0); val bt = baseTri.getLong(1)
    def timedTri(): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val r = tri(spark, dir).collect()(0)
      val out = ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
      Bench.scrub(spark)
      out
    }
    val (tB, seB, stB) = timedTri() // default cutoff: broadcast path
    val (tS, seS, stS) = // forced fallback: shuffled path
      ConfScope.withConf(spark, "spark.graft.triangles.broadcastMaxEdges", "1000000")(timedTri())
    val triOk = seB == factor * be && stB == factor * bt &&
      seS == seB && stS == stB
    println(f"[scale] triangles broadcast=$tB%.1fs shuffled=$tS%.1fs ok=$triOk")
    "\n## Triangle-count cutoff check (both paths at scale)\n\n" +
      s"- base: $be edges / $bt triangles\n" +
      f"- scaled, broadcast path (default 50M cutoff): $seB edges / $stB triangles in $tB%.1f s\n" +
      f"- scaled, shuffled path (cutoff forced to 1M): $seS edges / $stS triangles in $tS%.1f s\n" +
      s"- both paths equal and exactly ${factor}x base: ${if (triOk) "OK" else "MISMATCH"}\n"
  }

  /** 40% of the probe side lands on ONE key; AQE must split the
    * skewed partition rather than let one task carry 40% of the
    * rows. Returns the markdown section.
    */
  private def skewCheck(spark: SparkSession, dir: String, factor: Int): String = {
    // same measurement contract as the heavy table: scrub first (in a
    // full rehearsal this runs right after the triangle section's
    // shuffled-path storm) and report min of 2 scrubbed passes
    Bench.scrub(spark)
    val sb = new StringBuilder
    sb ++= "\n## AQE skew-join check\n\n"
    // thresholds scaled to LOCAL data: skew detection reads COMPRESSED
    // map-output sizes, and the 42-key partition (4.8M rows of a
    // constant long + 20×-replicated doubles) compresses to ~1-2 MB —
    // hence 256k here where a production hot key (GBs compressed)
    // clears the 256 MB default on its own. forceOptimize is required
    // because the join feeds the result stage directly — without a
    // downstream exchange Spark declines the split as "introducing an
    // extra shuffle" (verified: same query, threshold 2m or no force →
    // no split at 13.5-18 s; 256k + force → split at 9.0 s).
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val threshold = 256L * 1024
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", threshold.toString)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val skewed = Tables.lineitem(spark, dir).select(
        when(pmod(col("l_orderkey"), lit(5)) < 2, lit(42L))
          .otherwise(col("l_partkey")).as("k"),
        col("l_extendedprice").as("x"))
      val dim = Tables.part(spark, dir)
        .select(col("p_partkey").as("k"), col("p_retailprice"))
        .union(spark.range(1).select(lit(42L).as("k"), lit(0.0).as("p_retailprice")))
      // drive THIS DataFrame's own adaptive plan: df.count() builds a
      // separate QueryExecution, leaving j's plan isFinalPlan=false —
      // executing the AdaptiveSparkPlanExec's RDD is what finalizes it
      def pass(): (Double, Long, String, Long) = {
        val qe = skewed.join(dim, "k").select(col("x")).queryExecution
        val t0 = System.nanoTime()
        val n = qe.executedPlan.execute().count()
        val t = (System.nanoTime() - t0) / 1e9
        val p = qe.executedPlan.toString
        val largest = largestPartition(qe.executedPlan)
        Bench.scrub(spark)
        (t, n, p, largest)
      }
      val passes = Seq(pass(), pass())
      val (skewSec, n, plan, largest) = passes.minBy(_._1)
      val split = plan.contains("skew=true")
      val aqeRead = plan.contains("AQEShuffleRead")
      // below the threshold no partition can count as skewed, so a plan
      // without a split says nothing about the split itself
      val verdict =
        if (split) "YES — skewed partition was split"
        else if (largest < threshold) "no verdict (threshold not reached)"
        else "NO"
      sb ++= f"- 40%% of the scaled lineitem's probe rows on one key, sort-merge forced: $skewSec%.2f s, $n joined rows\n"
      sb ++= s"- largest shuffle partition: $largest bytes (skew threshold $threshold bytes)\n"
      sb ++= s"- final adaptive plan contains `skew=true`: $verdict\n"
      sb ++= s"- plan contains AQEShuffleRead: $aqeRead\n"
      if (!split) {
        sb ++= "\n<details><summary>executed plan (first 25 lines)</summary>\n\n```\n"
        sb ++= plan.linesIterator.take(25).mkString("\n")
        sb ++= "\n```\n</details>\n"
      }
    } finally {
      spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    sb.toString
  }

  /** The largest shuffle partition, in map-output bytes, over the
    * shuffle stages of an executed adaptive plan: the size AQE's skew
    * split compares with its threshold.
    */
  private def largestPartition(plan: SparkPlan): Long =
    PlanStages.collect(plan) { case s: ShuffleQueryStageExec =>
      s.mapStats.toSeq.flatMap(_.bytesByPartitionId)
    }.flatten.foldLeft(0L)(math.max)

  /** Walks into adaptive plans and through their query stages, which a
    * plain `collect` stops at (the final result stage is a leaf).
    */
  private object PlanStages extends AdaptiveSparkPlanHelper

  private def planDump(spark: SparkSession, dir: String): String = {
    val sb = new StringBuilder
    sb ++= "\n## q_join_broadcast plan at scale (excerpt)\n\n```\n"
    val starPlan = SparkEntry.queries("q_join_broadcast")(spark, dir)
      .queryExecution.executedPlan.toString
    sb ++= starPlan.linesIterator.take(40).mkString("\n")
    sb ++= "\n```\n"
    sb.toString
  }
}
