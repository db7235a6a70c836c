package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Plan-inspection utility: prints the formatted physical plan, timed
  * execution and scheduling shape of one named SparkEntry query (or all).
  * A comma-separated name list dumps several in one JVM; an optional third
  * arg writes each query's `explain("formatted")` to `<outDir>/<name>.txt`
  * instead of stdout (r15: used to commit the before/after plans under
  * plans/r15/).
  *
  * Per query it prints `[time]` (the noop write alone) and one `[jobs]`
  * line covering the query's build and execution: jobs, completed stages,
  * tasks, summed executor task time, and shuffle write bytes and records.
  * At bench scale many queries are bound by the per-job scheduling floor,
  * not by data: `wall − task_s/cores` against the job count says whether
  * to optimize the algorithm or the round structure, and shuffle volume is
  * the portable signal behind a "slim exchange" claim.
  *
  * Usage: runMain graft.PlanDump <queryName|q1,q2,...|all> [sfDir] [outDir]
  */
object PlanDump {
  /** Totals of every job, stage and task the listener bus delivers while
    * attached. Read only after `Bridge.drainListenerBus`. */
  private final class JobStats extends SparkListener {
    var jobs = 0; var stages = 0; var tasks = 0L
    var taskMs = 0L; var shuffleBytes = 0L; var shuffleRecords = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val spark = LocalSession(LocalSession.cpus)
    val sc = spark.sparkContext
    val todo = if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
               else name.split(',').toSeq.map(n => n -> SparkEntry.queries(n))
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    todo.foreach { case (n, fn) =>
      println(s"\n===== $n =====")
      val stats = new JobStats
      sc.addSparkListener(stats)
      val df = fn(spark, sfDir)
      outDir match {
        case Some(d) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$n.txt"), txt)
        case None => df.explain("formatted")
      }
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[time] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      sc.removeSparkListener(stats)
      println(f"[jobs] $n: jobs=${stats.jobs} stages=${stats.stages} " +
        f"tasks=${stats.tasks} task_s=${stats.taskMs / 1e3}%.2f " +
        s"shuffle_bytes=${stats.shuffleBytes} shuffle_records=${stats.shuffleRecords}")
    }
    spark.stop()
  }
}
