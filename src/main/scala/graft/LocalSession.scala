package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session bootstrap behind every main (`Bench`,
  * `Verify`, `PlanDump`, `ScaleGen`, `SkewBench`) and the test base:
  * `local[cpus]`, `cpus` shuffle partitions, UTC, no UI, a
  * [[CodegenCacheEntries]]-entry codegen class cache, log level WARN and
  * [[graft.dist.Binning.tuneSession]].
  *
  * Static confs a caller needs at context creation (e.g. the test
  * warehouse dir) are passed in `static`; runtime SQL confs are set with
  * `spark.conf.set` after the call. */
object LocalSession {
  /** `spark.sql.codegen.cache.maxEntries`, a static conf. The 100-entry
    * default thrashes on the 231-query suite (~1000 codegen units per
    * pass), so pass 2 of every query re-pays Janino compilation instead of
    * measuring steady-state execution. A/B in OPTIMIZATION_r15.md and
    * OPTIMIZATION_r16.md. */
  val CodegenCacheEntries = 4096

  /** `SPARK_GRAFT_CPUS`: a positive integer, or the JVM's available
    * processors when unset. A bad value fails here, naming the variable,
    * instead of deep inside Spark as `local[abc]`. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** Builds the session, or returns the live default session unchanged
    * (so a second call ignores its arguments). */
  def apply(cpus: Int, static: Map[String, String] = Map.empty): SparkSession =
    SparkSession.getDefaultSession.getOrElse {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
        .config(static)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      graft.dist.Binning.tuneSession(spark)
      spark
    }
}
