package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkEntry.localSession(4)
    SparkTestBase.installStreamDrainHook()
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** A streaming query left active by a failed test must not survive to
    * JVM exit: the context-stop shutdown hook terminates the
    * task-result pool while MicroBatchExecution is still shutting down
    * (RejectedExecutionException in TaskSchedulerImpl.statusUpdate —
    * the driver-recorded r17 test failure). Drain per suite, cheaply.
    */
  override def afterAll(): Unit = {
    try SparkSession.getDefaultSession.foreach { s =>
      if (!s.sparkContext.isStopped)
        s.streams.active.foreach(q =>
          try q.stop() catch { case _: Throwable => () })
    } catch { case _: Throwable => () }
    super.afterAll()
  }
}

object SparkTestBase {
  private val hookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Last line of defense for the same race: stop every active
    * streaming query BEFORE Spark's shutdown-hook manager (Hadoop
    * priority 40) stops the context, so no stream shuts down against a
    * dead scheduler. StreamingQuery.stop joins the query thread, so
    * after this hook runs no MicroBatchExecution is in flight.
    */
  private def installStreamDrainHook(): Unit =
    if (hookInstalled.compareAndSet(false, true)) {
      try org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        new Runnable {
          def run(): Unit =
            try SparkSession.getDefaultSession.foreach { s =>
              if (!s.sparkContext.isStopped)
                s.streams.active.foreach(q =>
                  try q.stop() catch { case _: Throwable => () })
            } catch { case _: Throwable => () }
        }, 90)
      catch { case _: Throwable => () } // shutdown already in progress
    }
}
