package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark command:
  * {{{
  *   bash perfbench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  * With `--trace 0` it prints the end-to-end metrics, with `--trace 1`
  * the per-layer metrics; the last line of standard output is one JSON
  * object: `{"correct", "attempted", "failed", "metrics"}`. Every
  * workload prints the same metrics, each defined in its own terms; the
  * workload's own figures and each layer's counters go to stderr as
  * `[perfbench] detail` lines.
  */
object Main {
  /** Task slots of the local Spark session. Two of the host's four: the
    * passes are driver-bound and run as fast on two slots as on four,
    * and the driver, JIT and GC threads keep cores of their own, so a
    * run depends less on what else the host is running.
    */
  val Cores = 2

  val Workloads = Seq("syllabus_docx", "curate_corpus", "ann_serve_rw")

  def workload(name: String, sizes: Sizes): Workload = name match {
    case "syllabus_docx" => new SyllabusDocx(sizes)
    case "curate_corpus" => new CurateCorpus(sizes)
    case "ann_serve_rw" => new AnnServe(sizes)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1")
    require(Workloads.contains(a.workload), s"unknown workload '${a.workload}'")
    require(a.seconds > 0 && a.seconds <= 60, "--seconds is in (0, 60]")
    a
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Median over root spans named `root` of the summed self time of the
    * layer spans under it (the root's own glue excluded).
    */
  def spanSelfMsPerRun(tracer: Tracer, root: String): Double = {
    tracer.drain()
    val all = tracer.allSpans
    val self = tracer.selfNs(all)
    val kids = all.groupBy(_.parent)
    def under(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(k => k +: under(k.id))
    val perRun = all.filter(_.name == root).map(r => Workload.ms(under(r.id).map(s => self(s.id)).sum))
    if (perRun.isEmpty) 0.0 else Stats.median(perRun)
  }

  /** Per-layer metrics of the workload's spans. `perCall` spans are
    * serving calls: their time is the per-call p50 self time in ms and
    * their counters are totals over the phase. The other spans report
    * self time in s and counters per occurrence.
    */
  def layerMetrics(tracer: Tracer, spans: Seq[(String, Boolean)]): Seq[Metric] = {
    tracer.drain()
    val all = tracer.allSpans
    val self = tracer.selfNs(all)
    spans.flatMap { case (name, perCall) =>
      val ss = all.filter(_.name == name)
      val per = if (perCall) 1.0 else math.max(ss.size, 1).toDouble
      def total(f: SpanCounters => Long) = ss.map(s => f(tracer.countersOf(s.id))).sum.toDouble
      val wallMs = ss.map(s => Workload.ms(s.endNs - s.startNs)).sum
      val time =
        if (perCall) Metric(s"$name.self_ms",
          if (ss.isEmpty) 0.0 else Stats.median(ss.map(s => Workload.ms(self(s.id)))), "ms")
        else Metric(s"$name.self_s", ss.map(s => self(s.id) / 1e9).sum / per, "s")
      Seq(time,
        Metric(s"$name.jobs", total(_.jobs.sum) / per, "count"),
        Metric(s"$name.tasks", total(_.tasks.sum) / per, "count"),
        Metric(s"$name.shuffle_bytes", total(_.shuffleBytes.sum) / per, "bytes"),
        Metric(s"$name.driver_share",
          if (wallMs <= 0) 0.0 else 1.0 - total(_.executorRunMs.sum) / (wallMs * Cores), "share"))
    }
  }

  /** The per-layer metrics every workload prints: Spark work charged to
    * its layer spans per traced pass (one `root` span each; the serving
    * workload has one traced phase, and its index build at set-up counts
    * with it), and the share of the layers' summed self time spent in the
    * costliest layer, which is named on stderr.
    */
  def layerTotals(tracer: Tracer, wl: Workload): Seq[Metric] = {
    tracer.drain()
    val all = tracer.allSpans
    val self = tracer.selfNs(all)
    val names = wl.spans.map(_._1).toSet
    val layers = all.filter(s => names(s.name))
    val passes = math.max(all.count(_.name == wl.root), 1).toDouble
    def total(f: SpanCounters => Long) = layers.map(s => f(tracer.countersOf(s.id))).sum.toDouble
    val wallMs = layers.map(s => Workload.ms(s.endNs - s.startNs)).sum
    val executorMs = total(_.executorRunMs.sum)
    val selfByName = layers.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    val (topName, topNs) = if (selfByName.isEmpty) ("none", 0L) else selfByName.maxBy(_._2)
    System.err.println(s"[perfbench] costliest layer: $topName")
    Seq(
      Metric("layers.jobs", total(_.jobs.sum) / passes, "count"),
      Metric("layers.tasks", total(_.tasks.sum) / passes, "count"),
      Metric("layers.shuffle_bytes", total(_.shuffleBytes.sum) / passes, "bytes"),
      Metric("layers.executor_ms", executorMs / passes, "ms"),
      Metric("layers.driver_share", if (wallMs <= 0) 0.0 else 1.0 - executorMs / (wallMs * Cores), "share"),
      Metric("layers.top_self_share", topNs.toDouble / math.max(selfByName.values.sum, 1L), "share"))
  }

  /** The workload's own figures, one `[perfbench] detail` line each. */
  def report(metrics: Seq[Metric]): Unit =
    metrics.foreach(m => System.err.println(s"[perfbench] detail ${m.name} = ${m.value} ${m.unit}"))

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Used heap after full collections, in MB. */
  def heapRetainedMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val mapper = new ObjectMapper()

  def render(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val out = mapper.createObjectNode()
      .put("correct", correct).put("attempted", attempted).put("failed", failed)
    val values = out.putObject("metrics")
    metrics.foreach { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"${m.name} is not a finite number: ${m.value}")
      values.putObject(m.name).put("value", m.value).put("unit", m.unit)
    }
    mapper.writeValueAsString(out)
  }

  /** Runs one benchmark invocation under `work` and returns the result
    * line. `sizes` is a parameter so that tests can run tiny inputs.
    */
  def run(a: Args, bench: File, sizes: Sizes): String = {
    val work = new File(bench, s".work/${a.workload}-${ProcessHandle.current().pid()}")
    try measured(a, bench, work, sizes) finally Workload.deleteRecursively(work)
  }

  private def measured(a: Args, bench: File, work: File, sizes: Sizes): String = {
    val wl = workload(a.workload, sizes)
    val runId = f"${a.workload}-${a.seed}-${System.currentTimeMillis()}%x"
    val tracer = new Tracer(a.trace, runId)
    val dir = new File(work, "setup")
    // one set-up, in the fresh JVM a user's first run starts from: session
    // start, this seed's inputs and what the phase needs. Repeated in a
    // warm JVM it takes 0.1-0.3 s, and its median over runs moves by up to
    // a third with the host's load; cold it takes seconds and moves less.
    val t0 = System.nanoTime()
    val spark = session(work)
    try {
      tracer.attach(spark.sparkContext)
      wl.setup(spark, dir, a.seed, tracer)
      val setupS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up: $setupS%.3f s")
      wl.warmUp(spark, dir, a.seed)
      if (!a.trace) {
        val o = wl.measure(spark, dir, a.seconds)
        val heap = heapRetainedMb()
        report(o.detail)
        render(o.failed == 0, o.attempted, o.failed, Seq(
          Metric("setup_s", setupS, "s"),
          Metric("items_per_s", o.itemsPerS, "1/s"),
          Metric("quality", o.quality, "share"),
          Metric("heap_retained_mb", heap, "MB")))
      } else {
        val gc0 = gcMs
        val t = wl.traced(spark, dir, a.seconds, tracer)
        val gc = gcMs - gc0
        tracer.drain()
        tracer.dump(new File(bench, s"traces/$runId.json"))
        report(layerMetrics(tracer, wl.spans) ++ t.extras)
        render(t.failed == 0, t.attempted, t.failed, layerTotals(tracer, wl) ++ Seq(
          Metric("run.spill_bytes", tracer.runSpillBytes.sum.toDouble, "bytes"),
          Metric("run.gc_ms", gc.toDouble, "ms"),
          Metric("run.untraced_ms", t.untracedMs, "ms"),
          Metric("run.traced_ms", t.tracedMs, "ms"),
          Metric("run.trace_overhead_ms", t.tracedMs - t.untracedMs, "ms"),
          Metric("run.span_self_ms", t.spanSelfMs, "ms")))
      }
    } finally spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val bench = new File(sys.props.getOrElse("perfbench.dir", "perfbench")).getAbsoluteFile
    val line = try run(a, bench, Sizes()) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    println(line)
  }
}
