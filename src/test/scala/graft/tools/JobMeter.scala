package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark jobs a block started on the calling thread did:
  * jobs, tasks, and the records and bytes those tasks read as input —
  * a read of a cached block counts as input too, one record per cached
  * element and its size in bytes. `fileBytesRead` is what the JVM read
  * through Hadoop filesystems while the block ran (in local mode the
  * tasks run in this JVM): files only.
  */
final case class Metered(jobs: Int, tasks: Int, recordsRead: Long,
    bytesRead: Long, fileBytesRead: Long)

/** Meters a block with a listener that keeps the events of jobs tagged
  * by a local property of the calling thread, and drains the listener
  * bus before it reads them.
  */
object JobMeter {
  private val Tag = "graft.spec.tag"

  @annotation.nowarn("cat=deprecation")
  private def fileBytes(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  def apply[T](spark: SparkSession)(body: => T): (T, Metered) = {
    val sc = spark.sparkContext
    val tag = s"meter-${System.nanoTime()}-${Thread.currentThread().getId}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach { m =>
            records.addAndGet(m.inputMetrics.recordsRead)
            bytes.addAndGet(m.inputMetrics.bytesRead)
          }
        }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(Tag, tag)
    try {
      val files0 = fileBytes()
      val r = body
      ListenerBusDrain(sc)
      (r, Metered(jobs.get, tasks.get, records.get, bytes.get,
        fileBytes() - files0))
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(l)
    }
  }
}
