package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.similarity.IvfIndex
import graft.streaming.IndexMaintStream

/** IVF serving with writes beside reads: three closed-loop reader
  * threads issue single-query top-k calls and reload when a new
  * generation is published, while one writer appends a vector file
  * through the streaming maintenance loop at a fixed time and then
  * deletes ids. The phase ends with a compaction.
  */
final class AnnServe(sizes: Sizes) extends Workload {
  import AnnServe._

  val name = "ann_serve_rw"
  override val root = s"$name.phase"
  val spans = Seq("similarity.ivf.build" -> false, "similarity.ivf.load" -> true,
    "similarity.ivf.topk" -> true, "streaming.index_maint.append" -> true,
    "similarity.ivf.delete" -> true, "similarity.ivf.compact" -> false)
  val K = 10
  val NProbe = 8
  val Readers = 3
  val MaxPhaseSeconds = 60
  private val IdCol = "vec_id"
  private val VecCol = "embedding"
  private var vecs: Gen.Vectors = _
  private var all: Array[Array[Float]] = _
  private var norms: Array[Double] = _
  private var pristine: File = _
  private var staged: File = _

  def setup(spark: SparkSession, dir: File, seed: Long, tracer: Tracer): Unit = {
    import spark.implicits._
    vecs = Gen.vectors(seed, sizes.vectors, sizes.dim, sizes.clusters, sizes.appendSize,
      sizes.deletes, sizes.queryPool)
    Gen.writeVectors(new File(dir, "input"), vecs)
    all = vecs.base ++ vecs.append
    norms = Oracles.norms(all)
    val basePath = new File(dir, "base.parquet").getPath
    vecs.base.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
      .toDF(IdCol, VecCol).write.parquet(basePath)
    pristine = new File(dir, "pristine")
    tracer.span("similarity.ivf.build") {
      IvfIndex.save(IvfIndex.build(spark.read.parquet(basePath), IdCol, VecCol, sizes.cells),
        pristine.getPath)
    }
    // the append batch as one parquet file
    val stagedDir = new File(dir, "staged")
    vecs.appendIds.zip(vecs.append).map { case (i, v) => (i.toLong, v.toSeq) }
      .toDF(IdCol, VecCol).coalesce(1).write.parquet(stagedDir.getPath)
    staged = stagedDir.listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  def warmUp(spark: SparkSession, dir: File, seed: Long): Unit = {
    val warm = IvfIndex.load(spark, pristine.getPath, IdCol, VecCol)
    vecs.queries.take(24).foreach(q => IvfIndex.topK(warm, q.toSeq, K, NProbe).collect())
  }

  /** Ids deleted in generation `gen`: none before the maintenance cycle. */
  private def deleted(gen: Int): Set[Long] = if (gen == 0) Set.empty else vecs.deletes.toSet

  /** Ids live in generation `gen`: the base, then also the append. */
  private def alive(gen: Int): Int => Boolean = {
    val limit = if (gen == 0) sizes.vectors else all.length
    val dead = deleted(gen)
    id => id < limit && !dead(id.toLong)
  }

  private def phase(spark: SparkSession, dir: File, seconds: Double, tracer: Tracer): Phase = {
    import spark.implicits._
    val live = new File(dir, "live")
    val src = new File(dir, "src")
    Seq(live, src, new File(dir, "ckpt")).foreach(Workload.deleteRecursively)
    Workload.copyTree(pristine, live)
    new File(src, "embeddings.parquet").mkdirs()
    val livePath = live.getPath

    // the generation readers should serve: 0 restored, 1 after the cycle
    val published = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val samples = new ConcurrentLinkedQueue[Sample]
    val queryFailures = new AtomicLong
    tracer.span(root) {
      val phaseSpan = tracer.currentSpan
      // readers start serving the restored generation, loaded once
      val initial = tracer.span("similarity.ivf.load")(IvfIndex.load(spark, livePath, IdCol, VecCol))
      val readers = (0 until Readers).map { r =>
        new Thread(() => {
          val rnd = new scala.util.Random(r)
          var seen = published.get()
          var index = initial
          while (!stop.get()) {
            val qi = rnd.nextInt(vecs.queries.length)
            try {
              val now = published.get()
              if (now != seen) {
                index = tracer.span("similarity.ivf.load", phaseSpan)(
                  IvfIndex.load(spark, livePath, IdCol, VecCol))
                seen = now
              }
              val t0 = System.nanoTime()
              val rows = tracer.span("similarity.ivf.topk", phaseSpan)(
                IvfIndex.topK(index, vecs.queries(qi).toSeq, K, NProbe).collect())
              samples.add(Sample(qi, rows.map(_.getLong(0)).toSeq, System.nanoTime() - t0, seen))
            } catch {
              case scala.util.control.NonFatal(e) =>
                queryFailures.incrementAndGet()
                System.err.println(s"[perfbench] $name: query failed: $e")
                seen = -1
            }
          }
        }, s"perfbench-reader-$r")
      }
      val t0 = System.nanoTime()
      readers.foreach(_.start())
      def elapsed = (System.nanoTime() - t0) / 1e9
      // the writer runs one maintenance cycle `appendAtMs` in; readers stop
      // after it, once `seconds` have passed and `minQueries` queries completed
      val wait = sizes.appendAtMs - (System.nanoTime() - t0) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      // the new file appears in the stream source atomically
      val tmp = new File(src, "_incoming/part-0.parquet")
      tmp.getParentFile.mkdirs()
      Files.copy(staged.toPath, tmp.toPath)
      Files.move(tmp.toPath, new File(src, "embeddings.parquet/part-00000.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      val a0 = System.nanoTime()
      val visible = try {
        tracer.span("streaming.index_maint.append", phaseSpan)(
          IndexMaintStream.appendFile(spark, src.getPath, livePath, IndexMaintStream.IvfKind(IdCol, VecCol),
            shufflePartitions = Main.Cores, checkpoint = Some(new File(dir, "ckpt").getPath)))
        val probe = vecs.appendIds(new scala.util.Random(7).nextInt(vecs.append.length))
        val top = tracer.span(s"$name.visibility_probe", phaseSpan) {
          IvfIndex.topK(IvfIndex.load(spark, livePath, IdCol, VecCol), all(probe).toSeq, K, NProbe)
            .collect().map(_.getLong(0))
        }
        val a1 = System.nanoTime()
        tracer.span("similarity.ivf.delete", phaseSpan)(
          IvfIndex.delete(spark, livePath, vecs.deletes.toSeq.toDF(IdCol), IdCol))
        // readers reload once, after the cycle
        published.set(1)
        if (top.headOption.contains(probe.toLong)) Some(Workload.ms(a1 - a0))
        else {
          System.err.println(s"[perfbench] $name: appended vector $probe not at rank 1")
          None
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name: append failed: $e"); None
      }
      while ((elapsed < seconds || samples.size < sizes.minQueries) && elapsed < MaxPhaseSeconds)
        Thread.sleep(20)
      stop.set(true)
      readers.foreach(_.join())
      val wall = System.nanoTime() - t0
      System.err.println(f"[perfbench] $name phase: ${wall / 1e9}%.3f s, ${samples.size} queries")
      val compactOk = try {
        tracer.span("similarity.ivf.compact")(IvfIndex.compact(spark, livePath, IdCol, VecCol))
        val ids = IvfIndex.load(spark, livePath, IdCol, VecCol).corpus.select(IdCol).collect()
          .map(_.getLong(0))
        val ok = alive(published.get())
        ids.length == ids.distinct.length && ids.length == all.indices.count(ok) && ids.forall(i => ok(i.toInt))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name: compact failed: $e"); false
      }
      val probed = if (!tracer.enabled) 0.0 else {
        val idx = IvfIndex.load(spark, livePath, IdCol, VecCol)
        Stats.median(vecs.queries.take(16).map(q => IvfIndex.probedFraction(idx, q.toSeq, NProbe)).toSeq)
      }
      Phase(wall, samples.asScala.toSeq, queryFailures.get(), visible, compactOk, probed)
    }
  }

  /** Recall of each sample against the brute-force top-k of the
    * generation it was served from, and whether it served a deleted id.
    */
  private def score(samples: Seq[Sample]): Seq[(Double, Boolean)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try {
      samples.groupBy(_.seen).toSeq.flatMap { case (seen, ss) =>
        val ok = alive(seen)
        val dead = deleted(seen)
        ss.map(s => pool.submit(() => {
          val exact = Oracles.exactTopK(all, norms, ok, vecs.queries(s.query), K)
          (Oracles.recall(s.ids, exact), !s.ids.exists(dead))
        }))
      }.map(_.get())
    } finally pool.shutdown()
  }

  private def summarize(p: Phase): Outcome = {
    val scored = score(p.samples)
    val deletedServed = scored.count(!_._2)
    val lat = p.samples.map(s => Workload.ms(s.ns))
    // every query, the append cycle and the compaction
    val attempted = p.samples.size + p.queryFailures + 2
    val failed = p.queryFailures + deletedServed + (if (p.visibleMs.isEmpty) 1 else 0) +
      (if (p.compactOk) 0 else 1)
    if (deletedServed > 0) System.err.println(s"[perfbench] $name: $deletedServed queries served a deleted id")
    Outcome(attempted, failed,
      p.samples.size / (p.wallNs / 1e9),
      scored.map(_._1).sum / math.max(scored.size, 1),
      Seq(
        Metric("serve_p50_ms", Stats.median(lat), "ms"),
        Metric("serve_p95_ms", Stats.quantile(lat, 0.95), "ms")) ++
        p.visibleMs.map(Metric("append_visible_ms", _, "ms")))
  }

  def measure(spark: SparkSession, dir: File, seconds: Double): Outcome =
    summarize(phase(spark, dir, seconds, new Tracer(false, "")))

  def traced(spark: SparkSession, dir: File, seconds: Double, tracer: Tracer): TracedOutcome = {
    val u = phase(spark, dir, seconds, new Tracer(false, ""))
    val t = phase(spark, dir, seconds, tracer)
    tracer.drain()
    val topk = tracer.allSpans.filter(_.name == "similarity.ivf.topk")
    val self = tracer.selfNs(tracer.allSpans)
    val jobs = topk.map(s => tracer.countersOf(s.id).jobs.sum).sum
    val (uo, to) = (summarize(u), summarize(t))
    TracedOutcome(uo.attempted + to.attempted, uo.failed + to.failed,
      Seq(
        Metric("similarity.ivf.topk.jobs_per_query", jobs.toDouble / math.max(topk.size, 1), "count"),
        Metric("similarity.ivf.probed_fraction", t.probedFraction, "share")),
      Stats.median(u.samples.map(s => Workload.ms(s.ns))),
      Stats.median(t.samples.map(s => Workload.ms(s.ns))),
      if (topk.isEmpty) 0.0 else Stats.median(topk.map(s => Workload.ms(self(s.id)))))
  }
}

object AnnServe {
  /** One served query and the generation the reader had loaded. */
  final case class Sample(query: Int, ids: Seq[Long], ns: Long, seen: Int)

  final case class Phase(wallNs: Long, samples: Seq[Sample], queryFailures: Long,
      visibleMs: Option[Double], compactOk: Boolean, probedFraction: Double)
}
