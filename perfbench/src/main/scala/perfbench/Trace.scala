package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced call into a layer. `parent` links nest spans across
  * threads; all spans of one benchmark process share `runId`.
  */
final case class Span(id: Long, runId: String, name: String, parent: Long,
    thread: String, startNs: Long, endNs: Long)

/** Spark work attributed to one span. */
final class SpanCounters {
  val jobs, tasks, shuffleBytes, executorRunMs, spillBytes = new LongAdder
}

/** Span recorder plus the `SparkListener` that charges Spark jobs and
  * tasks to the span that submitted them. A span sets the thread-local
  * Spark property [[Tracer.SpanProperty]] on its thread; every job
  * carries its submitting thread's local properties, and its stages'
  * tasks are charged through the job's stage ids. This stays correct
  * when several threads run spans at once.
  *
  * With `enabled = false` a span only runs its body: the untraced run
  * pays nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) extends SparkListener {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[Long, SpanCounters]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  /** Spill bytes of every task while attached, inside a span or not. */
  val runSpillBytes = new LongAdder
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = if (enabled) {
    context.addSparkListener(this)
    sc = Some(context)
  }

  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  /** Runs `body` inside a span named `name`. The parent is the caller's
    * innermost span, or `parent` when the caller starts work for a span
    * opened on another thread.
    */
  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val p = if (parent >= 0) parent else currentSpan
      counters.put(id, new SpanCounters)
      val prev = sc.map(_.getLocalProperty(Tracer.SpanProperty))
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, prev.orNull))
        spans.add(Span(id, runId, name, p, Thread.currentThread().getName, t0, t1))
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    Option(counters.get(id)).foreach(_.jobs.increment())
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      runSpillBytes.add(spill)
      Option(counters.get(stageSpan.getOrDefault(e.stageId, 0L))).foreach { c =>
        c.tasks.increment()
        c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c.executorRunMs.add(m.executorRunTime)
        c.spillBytes.add(spill)
      }
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = sc.foreach(SparkBus.drain)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def countersOf(id: Long): SpanCounters = counters.getOrDefault(id, new SpanCounters)

  /** Span duration minus the union of its children's intervals. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** All spans with their counters, as JSON lines. */
  def dump(f: java.io.File): Unit = {
    val all = allSpans
    val self = selfNs(all)
    val mapper = new ObjectMapper()
    Gen.writeLines(f, all.iterator.map { s =>
      val c = countersOf(s.id)
      mapper.writeValueAsString(mapper.createObjectNode()
        .put("run_id", s.runId).put("span_id", s.id).put("parent_id", s.parent)
        .put("name", s.name).put("thread", s.thread)
        .put("start_ns", s.startNs).put("end_ns", s.endNs).put("self_ns", self(s.id))
        .put("jobs", c.jobs.sum).put("tasks", c.tasks.sum)
        .put("shuffle_bytes", c.shuffleBytes.sum)
        .put("executor_run_ms", c.executorRunMs.sum)
        .put("spill_bytes", c.spillBytes.sum))
    })
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
