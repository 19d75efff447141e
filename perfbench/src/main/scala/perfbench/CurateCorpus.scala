package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{ConnectedComponents, Dedup}
import graft.functions.NormalizeOps
import graft.ml.QualityModel
import graft.operators.Batching

/** A training-data curation chain over one generated corpus: normalize,
  * exact dedup, MinHash near-dup pairs, connected-component
  * representatives, trained quality filter, decontamination against a
  * held-out eval set, packing into batches, parquet write. Bound by
  * data volume and shuffle, with few large jobs.
  */
final class CurateCorpus(sizes: Sizes) extends Workload {
  import CurateCorpus._

  val name = "curate_corpus"
  val spans = Seq("functions.normalize", "dedup.exact", "dedup.minhash_pairs",
    "dedup.cc_representatives", "ml.quality.train", "ml.quality.score", "dedup.decontaminate",
    "operators.batching.pack", "curate.write").map(_ -> false)
  val NearDupThreshold = 0.7
  val ContainmentThreshold = 0.5
  val BatchSize = 512
  private var input: File = _
  private var truth: Seq[Gen.Truth] = Nil

  def setup(spark: SparkSession, dir: File, seed: Long, tracer: Tracer): Unit = {
    input = new File(dir, "corpus")
    Gen.writeCorpus(input, Gen.corpus(seed, sizes.corpusDocs))
    truth = Gen.readTruth(input)
  }

  def warmUp(spark: SparkSession, dir: File, seed: Long): Unit = {
    val warm = new File(dir, "warm")
    Gen.writeCorpus(warm, Gen.corpus(seed + 1, Workload.warmSize(sizes.corpusDocs)))
    val truth = Gen.readTruth(warm)
    (0 until Workload.WarmPasses).foreach { i =>
      val p = pass(spark, warm, truth, new File(dir, s"warm-out-$i"), new Tracer(false, ""))
      require(p.score.problems.isEmpty, s"warm-up output is wrong: ${p.score.problems.mkString("; ")}")
    }
  }

  private def normalized(c: Column): Column =
    regexp_replace(trim(lower(NormalizeOps.stripAccents(NormalizeOps.nfc(c)))), "\\s+", " ")

  private def pass(spark: SparkSession, in: File, truth: Seq[Gen.Truth], out: File,
      tracer: Tracer): Pass = {
    val st = new Stages(tracer)
    val t0 = System.nanoTime()
    var exact: DataFrame = null
    tracer.span(root) {
      val raw = spark.read.schema("doc_id LONG, lang STRING, text STRING")
        .json(new File(in, "docs").getPath)
      val docs = st("functions.normalize")(
        raw.select(col("doc_id"), col("lang"), normalized(col("text")).as("text")))
      exact = st("dedup.exact")(Dedup.dropExactDuplicates(docs, "doc_id", "text"))
      val pairs = st("dedup.minhash_pairs")(
        Dedup.minhashNearDups(exact, "doc_id", "text", NearDupThreshold)
          .select(col("id_a").as("a"), col("id_b").as("b")))
      // the representatives feed training, scoring and decontamination:
      // cut the lineage once, as a pipeline composing these calls would
      val reps = st.cut("dedup.cc_representatives")(
        ConnectedComponents.representatives(exact, "doc_id", pairs))
      val w = tracer.span("ml.quality.train")(QualityModel.train(reps))
      val kept = st("ml.quality.score")(reps.join(
        QualityModel.score(reps, w).filter(col("keep")).select("doc_id"), "doc_id"))
      val eval = spark.read.schema("doc_id LONG, text STRING").json(new File(in, "eval").getPath)
        .select(col("doc_id"), normalized(col("text")).as("text"))
      val clean = st("dedup.decontaminate") {
        val hits = Dedup.ngramContainment(kept.select("doc_id", "text").unionByName(eval),
          "doc_id", "text", ContainmentThreshold)
          .filter(col("id_a") < Gen.EvalIdBase && col("id_b") >= Gen.EvalIdBase)
          .select(col("id_a").as("doc_id")).distinct()
        kept.join(hits, Seq("doc_id"), "left_anti")
      }
      val packed = st("operators.batching.pack")(Batching.withBatchIdScalable(clean, BatchSize, col("doc_id")))
      tracer.span("curate.write")(packed.write.mode("overwrite").parquet(out.getPath))
    }
    val wall = System.nanoTime() - t0
    // counted outside every span: LSH candidates before verification
    val candidates =
      if (tracer.enabled) Dedup.minhashCandidates(exact, "doc_id", "text").count() else 0L
    st.release()
    val survivors = spark.read.parquet(out.getPath).select("doc_id", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    System.err.println(f"[perfbench] $name pass: ${wall / 1e9}%.3f s")
    Pass(wall, Oracles.checkCurate(truth, survivors, BatchSize), st, candidates)
  }

  def measure(spark: SparkSession, dir: File, seconds: Double): Outcome = {
    val off = new Tracer(false, "")
    val passes = Workload.loop(seconds, 3)(i => pass(spark, input, truth, new File(dir, s"out-$i"), off))
    passes.flatMap(_.score.problems).take(5).foreach(p => System.err.println(s"[perfbench] $name: $p"))
    Outcome(passes.size, passes.count(_.score.problems.nonEmpty),
      Stats.median(passes.map(p => truth.size / (p.wallNs / 1e9))),
      Stats.median(passes.map(_.score.dupRecall)),
      Seq(Metric("false_drop_rate", Stats.median(passes.map(_.score.falseDropRate)), "share")))
  }

  def traced(spark: SparkSession, dir: File, seconds: Double, tracer: Tracer): TracedOutcome = {
    val off = new Tracer(false, "")
    val pairs = Workload.loop(seconds, 1) { i =>
      val u = pass(spark, input, truth, new File(dir, s"out-u$i"), off)
      val t = pass(spark, input, truth, new File(dir, s"out-t$i"), tracer)
      (u, t)
    }
    val last = pairs.last._2
    val verified = last.stages.rowsOf("dedup.minhash_pairs")
    val all = pairs.flatMap(p => Seq(p._1, p._2))
    TracedOutcome(all.size, all.count(_.score.problems.nonEmpty),
      Seq(
        Metric("dedup.minhash_pairs.candidates", last.candidates.toDouble, "count"),
        Metric("dedup.minhash_pairs.precision", verified.toDouble / math.max(last.candidates, 1), "share")),
      Stats.median(pairs.map(p => Workload.ms(p._1.wallNs))),
      Stats.median(pairs.map(p => Workload.ms(p._2.wallNs))),
      Main.spanSelfMsPerRun(tracer, root))
  }
}

object CurateCorpus {
  final case class Pass(wallNs: Long, score: Oracles.CurateScore, stages: Stages,
      candidates: Long)
}
