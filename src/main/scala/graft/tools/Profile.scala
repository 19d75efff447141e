package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement aid for optimization rounds (guide §1: measure first).
  * Runs the named BENCH-path queries (overrides included) N times each
  * under the bench's scrub discipline and reports, per query: wall
  * seconds per pass, Spark job count, stage count, task count, and
  * shuffle bytes — the "where does the time go" attribution that a
  * wall-clock number alone cannot give at this scale (sub-second
  * queries on local[n] are job-overhead-bound, not byte-bound).
  *
  * `runMain graft.tools.Profile <sfDir> [passes] q_a q_b ...`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (passes, names) =
      if (args(1).forall(_.isDigit)) (args(1).toInt, args.drop(2).toSeq)
      else (2, args.tail.toSeq)
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shufW = 0L
    val traceJobs = sys.env.contains("PROFILE_JOBS")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized {
          jobs += 1
          if (traceJobs) {
            val d = j.stageInfos.lastOption.map(_.name).getOrElse("?")
            println(f"[job] ${j.jobId}%5d $d")
          }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          shufW += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val benchMap = graft.SparkEntry.benchQueries
    names.foreach { q =>
      val fn = benchMap(q)
      // untimed warm pass (codegen/JIT/footers), like Bench
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"[profile] $q warmup failed: ${e.getMessage}") }
      graft.Bench.scrub(spark)
      (1 to passes).foreach { p =>
        Thread.sleep(300) // let the async listener bus drain
        if (traceJobs) println(s"[mark] $q pass$p begins")
        jobs = 0; stages = 0; tasks = 0; shufW = 0L
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"[profile] $q failed: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"[profile] $q pass$p: $dt%.3f s  jobs=$jobs stages=$stages " +
          f"tasks=$tasks shuffleMB=${shufW / 1e6}%.1f")
        graft.Bench.scrub(spark)
        System.gc()
      }
    }
    spark.stop()
  }
}
