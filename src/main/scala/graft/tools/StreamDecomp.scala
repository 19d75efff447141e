package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Startup-cost decomposition for the streaming stateful singles
  * (VERDICT r17 next-round #5): run one of the EventStream bodies with
  * a StreamingQueryListener and print, per micro-batch, Spark's own
  * durationMs phase breakdown (triggerExecution, queryPlanning,
  * walCommit, getBatch, addBatch, commitOffsets...) plus driver-side
  * wall around start / processAllAvailable / stop — the attribution a
  * job counter cannot give for a query whose jobs are stream-internal.
  *
  * `runMain graft.tools.StreamDecomp <sfDir> [reps]`
  */
object StreamDecomp {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[stream] started ${e.name} at ${System.nanoTime() / 1000000}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        println(s"[stream] batch ${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${new java.util.TreeMap(dm)}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[stream] terminated at ${System.nanoTime() / 1000000}")
    }
    spark.streams.addListener(listener)
    val bodies: Seq[(String, () => Unit)] = Seq(
      "q_stream_window" -> (() =>
        graft.streaming.EventStream.windowedCounts(spark, sfDir).count(): Unit),
      "q_stream_session" -> (() =>
        graft.streaming.EventStream.sessionStream(spark, sfDir).count(): Unit),
      "q_stream_ss_join" -> (() =>
        graft.streaming.EventStream.intervalJoinStream(spark, sfDir).count(): Unit))
    bodies.foreach { case (name, fn) =>
      (1 to reps).foreach { i =>
        graft.Bench.scrub(spark)
        val t0 = System.nanoTime()
        fn()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[stream] $name rep$i total $dt%.3f s")
      }
    }
    spark.stop()
  }
}
