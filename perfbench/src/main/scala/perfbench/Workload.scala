package perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, SparkSession}

/** Input sizes. The defaults are what the benchmark runs; tests pass
  * tiny ones.
  */
final case class Sizes(
    syllabusDocs: Int = 12,
    topicsPerDoc: Int = 12,
    corpusDocs: Int = 3000,
    vectors: Int = 10000,
    dim: Int = 64,
    clusters: Int = 64,
    cells: Int = 64,
    appendSize: Int = 1000,
    deletes: Int = 100,
    appendAtMs: Long = 3000,
    queryPool: Int = 2048,
    minQueries: Int = 200)

/** A metric value as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one measured phase reports: operations attempted and failed,
  * the two end-to-end figures every workload defines in its own terms
  * (input items per second, and the share of the ideal result its
  * oracle grants), and the workload's own figures behind them, which go
  * to stderr.
  */
final case class Outcome(attempted: Long, failed: Long, itemsPerS: Double, quality: Double,
    detail: Seq[Metric])

/** What one traced phase reports: operations attempted and failed over
  * its untraced and traced passes, the workload's extra per-layer
  * figures (to stderr), its end-to-end time untraced and traced, and the sum of span
  * self times over the same work.
  */
final case class TracedOutcome(attempted: Long, failed: Long, extras: Seq[Metric],
    untracedMs: Double, tracedMs: Double, spanSelfMs: Double)

trait Workload {
  def name: String

  /** The layer calls the traced run records, each with whether it is a
    * per-call serving span (see [[Main.layerMetrics]]).
    */
  def spans: Seq[(String, Boolean)]

  /** The span around one traced pass (or phase) of the workload. */
  def root: String = s"$name.run"

  /** Generates this seed's inputs under `dir` and builds what the
    * measured phase needs (the serving index). Runs once, right after
    * the session starts; the two together are `setup_s`.
    */
  def setup(spark: SparkSession, dir: File, seed: Long, tracer: Tracer): Unit

  /** One untimed pass over a separate input of the same size
    * (`seed + 1`), or a few queries, after the set-up, so the measured
    * phase starts with compiled code paths. That pass pays most JIT and
    * code generation; pass times keep falling by a tenth or two for a few
    * passes more, a cost the run budget leaves unpaid. A smaller warm-up
    * input leaves the first measured pass slower still.
    */
  def warmUp(spark: SparkSession, dir: File, seed: Long): Unit

  /** The end-to-end phase, tracing off, for about `seconds`. */
  def measure(spark: SparkSession, dir: File, seconds: Double): Outcome

  /** The same work untraced and traced, for the per-layer metrics. */
  def traced(spark: SparkSession, dir: File, seconds: Double, tracer: Tracer): TracedOutcome
}

/** Stage boundaries of a traced chain: each stage runs in its span and
  * its output is persisted and counted there, so a lazy plan is charged
  * to the layer that built it. Outputs stay cached until [[release]],
  * because later stages read earlier ones (generation reads both the
  * plan and the subtopics). Untraced, a stage is the plain call.
  */
final class Stages(tracer: Tracer) {
  private var held: List[Dataset[_]] = Nil
  private val rows = scala.collection.mutable.Map.empty[String, Long]

  def apply[T](name: String)(f: => Dataset[T]): Dataset[T] =
    if (!tracer.enabled) f
    else {
      val ds = tracer.span(name) {
        val d = f.persist()
        rows(name) = d.count()
        d
      }
      held ::= ds
      ds
    }

  /** A stage whose output several later stages read: the untraced
    * chain cuts it with `localCheckpoint`.
    */
  def cut[T](name: String)(f: => Dataset[T]): Dataset[T] =
    if (!tracer.enabled) f.localCheckpoint() else apply(name)(f)

  def rowsOf(name: String): Long = rows.getOrElse(name, 0L)

  def release(): Unit = { held.foreach(_.unpersist()); held = Nil }
}

object Workload {
  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(c => copyTree(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** Runs `body` at least `minTimes` times and then until `seconds`
    * have passed since the first start.
    */
  def loop[T](seconds: Double, minTimes: Int)(body: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    while (out.size < minTimes || (System.nanoTime() - t0) / 1e9 < seconds) out += body(out.size)
    out.toSeq
  }

  def ms(ns: Long): Double = ns / 1e6

  /** Passes of a batch workload's warm-up, over an input of
    * [[warmSize]]. Per-job driver code, which dominates a pass at these
    * sizes, runs as often on a small input as on the measured one, so
    * several small passes bring the JIT closer to steady state than one
    * full pass in the same time.
    */
  val WarmPasses = 3

  def warmSize(measured: Int): Int = math.max(1, measured / 4)
}
