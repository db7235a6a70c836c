package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from its spans and listener sums.
  * Each covers the timed calls only; set-up and the canaries are outside
  * the trace window (except `sources.read_s`, which is the set-up read). */
object Layers {
  def summarize(t: Trace, spark: SparkSession, cores: Int, readS: Double,
                codegen: ((Long, Long), (Long, Long)), gcMs: (Long, Long),
                registryRows: Long, functions: Map[String, Double]): Map[String, Any] = {
    val ss = t.all
    val byId = ss.map(s => s.id -> s).toMap
    def secs(xs: Seq[Span]) = xs.map(s => s.end - s.start).sum / 1e9
    def layerOf(s: Span): String = byId.get(s.parent).map(_.name.takeWhile(_ != '/')).getOrElse("")
    def phases(kind: String, layer: String = "") =
      ss.filter(s => s.kind == kind && (layer.isEmpty || layerOf(s) == layer))
    def jobsUnder(ps: Seq[Span]) = { val ids = ps.map(_.id).toSet; ss.count(s => s.kind == "job" && ids(s.parent)) }
    val jobs = ss.filter(_.kind == "job")
    val self = t.selfTimes(ss)
    val execWall = secs(phases("execute"))
    val cpuS = t.sums.cpuNs.sum() / 1e9
    val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    scala.collection.immutable.ListMap(
      "dist.build_s" -> secs(phases("build", "dist")),
      "dist.build_jobs" -> jobsUnder(phases("build", "dist")),
      "dist.render_s" -> secs(phases("render")),
      "llm.build_s" -> secs(phases("build", "llm")),
      "llm.build_jobs" -> jobsUnder(phases("build", "llm")),
      "sources.read_s" -> readS,
      "sources.bytes_read" -> t.sums.bytesRead.sum(),
      "sources.records_read" -> t.sums.recordsRead.sum(),
      "plans.analysis_s" -> t.phasesMs("analysis") / 1e3,
      "plans.optimization_s" -> t.phasesMs("optimization") / 1e3,
      "plans.planning_s" -> t.phasesMs("planning") / 1e3,
      "plans.query_executions" -> t.queryExecutions.sum(),
      "codegen.compile_s" -> (codegen._2._1 - codegen._1._1) / 1e9,
      "codegen.classes" -> (codegen._2._2 - codegen._1._2),
      "sched.jobs" -> jobs.size,
      "sched.stages" -> t.stages.sum(),
      "sched.tasks" -> t.sums.tasks.sum(),
      "sched.job_wall_s" -> secs(jobs),
      "sched.task_overhead_s" -> t.sums.overheadMs.sum() / 1e3,
      "sched.serial_stage_s" -> t.sums.serialMs.sum() / 1e3,
      "exec.run_s" -> t.sums.runMs.sum() / 1e3,
      "exec.cpu_s" -> cpuS,
      "exec.gc_s" -> t.sums.gcMs.sum() / 1e3,
      "exec.cpu_util" -> (if (execWall > 0) t.sums.executeCpuNs.sum() / 1e9 / (execWall * cores) else 0.0),
      "exec.peak_mem_bytes" -> t.sums.peakMem.get(),
      "shuffle.write_bytes" -> t.sums.shuffleWrite.sum(),
      "shuffle.read_bytes" -> t.sums.shuffleRead.sum(),
      "shuffle.fetch_wait_s" -> t.sums.fetchWaitMs.sum() / 1e3,
      "shuffle.spill_bytes" -> t.sums.spill.sum(),
      "sinks.write_s" -> secs(phases("write")),
      "sinks.bytes_written" -> t.sums.bytesWritten.sum(),
      "state.registry_rows" -> registryRows,
      "storage.cached_bytes" -> storage,
      "driver.gc_s" -> (gcMs._2 - gcMs._1) / 1e3,
      "call.unattributed_s" -> ss.filter(_.kind == "call").map(s => self(s.id)).sum / 1e9,
      "trace.overhead_s" -> t.hookSeconds) ++ functions
  }
}
