package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.SerializationFeature
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM entry point.
  *
  *   - `--mode gen --data D`: write the fixture tables under D.
  *   - `--mode run`: one closed-loop run of `--workload` with `--seed` for
  *     `--seconds`, optionally `--trace 1`; writes the run record to `--out`.
  *   - `--mode golden`: digest every call of a workload's catalog at
  *     `--cores`, written to `--out` (inputs to the pinned golden file).
  *   - `--mode selftest`: shows that a perturbed expectation fails the check.
  */
object Main {
  val Workloads = Seq("explore", "incremental")
  var mainAtMs, sessionAtMs = 0L

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    mainAtMs = System.currentTimeMillis()
    val spark = session(cores, a("tmp"))
    sessionAtMs = System.currentTimeMillis()
    val ok = try a("mode") match {
      case "gen" => DataGen.generate(spark, a("data")); true
      case "run" => new Run(spark, a, cores).run()
      case "golden" => golden(spark, a); true
      case "selftest" => selftest(spark, a)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The session `graft.Bench` builds: local[n], n shuffle partitions, UTC,
    * AQE on, the codegen class cache, then `Binning.tuneSession`. Spark's
    * scratch space stays inside the benchmark's own directory. */
  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.dist.Binning.tuneSession(spark)
    spark
  }

  val json: ObjectMapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)

  /** Scala values to the Java collections Jackson writes. */
  def j(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, j(x)) }
      out
    case s: Iterable[_] => s.map(j).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case o: Option[_] => o.map(j).orNull
    case x => x
  }

  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    json.writeValue(new java.io.File(path), j(v))
  }

  def loadGolden(dir: String, workload: String): Pinned = {
    val f = new java.io.File(s"$dir/$workload.json")
    if (!f.exists()) Pinned(Map.empty, Set.empty)
    else {
      val m = json.readValue(f, classOf[java.util.Map[String, Any]]).asScala
      def keys(k: String) = m(k).asInstanceOf[java.util.Map[String, Any]].asScala
      Pinned(keys("digests").map { case (k, v) => k -> v.toString }.toMap, keys("unstable").keySet.toSet)
    }
  }

  /** Every call a seed can produce, in a fixed order, with its setup. */
  def catalog(fx: Fixture, workload: String, tmp: String): Iterator[(Call, () => Unit)] =
    workload match {
      case "incremental" => (0 until Incremental.Layouts).iterator.flatMap { l =>
        val pass = new Incremental.Pass(fx, l, s"$tmp/golden-state/$l")
        (1 until Incremental.Batches).iterator.map { i =>
          (pass.batch(i), if (i == 1) () => pass.bootstrap() else () => ())
        }
      }
      case "explore" => (Calls.exploreWarmup +: Calls.exploreKinds.flatMap(_._2)).iterator.map(c => (c, () => ()))
    }

  private def golden(spark: SparkSession, a: Map[String, String]): Unit = {
    val fx = new Fixture(spark, a("data"))
    val runner = new Runner(fx, None)
    val out = mutable.LinkedHashMap.empty[String, String]
    catalog(fx, a("workload"), a("tmp")).foreach { case (c, prep) =>
      prep()
      out(c.id) = runner.call(c).digest
      System.err.println(s"[golden] ${c.id} ${out(c.id)}")
    }
    write(a("out"), out)
  }

  /** A histogram checked against its pinned expectation must pass, and
    * against the same expectation with one bin count off by one must fail. */
  private def selftest(spark: SparkSession, a: Map[String, String]): Boolean = {
    val fx = new Fixture(spark, a("data"))
    val call = Calls.exploreKinds.head._2.head
    val res = new Runner(fx, None).call(call)
    val rows = call.run(fx).asInstanceOf[Frame].df.collect()
    val perturbed = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(3, rows(0).getLong(3) + 1)))
    val truth = loadGolden(a("golden"), "explore")
    val bad = truth.copy(digests = truth.digests.updated(call.id, Digest.rows(rows(0).schema, perturbed)))
    val passes = Runner.verdict(fx, call, res, truth).isEmpty
    val fails = Runner.verdict(fx, call, res, bad).nonEmpty
    println(s"selftest ${call.id}: pinned expectation ${if (passes) "passes" else "FAILS"}, " +
      s"expectation with bin 0 count + 1 ${if (fails) "fails" else "PASSES"}")
    passes && fails
  }
}

/** Pinned digests of a workload's calls. `unstable` calls gave different
  * digests across the pinning passes (runs or core counts): a defect, so
  * every run counts them as failed. */
final case class Pinned(digests: Map[String, String], unstable: Set[String])

/** Outcome of one call. */
final case class Result(id: String, seconds: Double, digest: String,
                        rows: Array[Row], error: Option[String])

/** Issues calls and times them; with a [[Trace]], each call is a span with
  * one child span per phase. */
final class Runner(fx: Fixture, trace: Option[Trace]) {
  private def phase[T](parent: Long, kind: String)(body: => T): T = trace match {
    case Some(t) => t.span(parent, kind, kind)(_ => body)
    case None => body
  }

  def call(c: Call): Result = {
    val t0 = System.nanoTime()
    val none = () => Array.empty[Row]
    // the digest, and the rows an invariant check reads (fetched untimed)
    def body(id: Long): (String, () => Array[Row]) = {
      val out = phase(id, "build")(c.run(fx))
      out match {
        case Frame(df) =>
          phase(id, "plan")(df.queryExecution.executedPlan)
          val rows = phase(id, "execute")(df.collect())
          (phase(id, "collect")(Digest.rows(df.schema, rows)), () => rows)
        case Svg(render) =>
          val svg = phase(id, "render")(render())
          (phase(id, "collect")(Digest.svg(svg)), none)
        case Batch(results, write, written, dropped) =>
          val ds = results.map(Digest.frame)
          phase(id, "plan")(ds.foreach(_.queryExecution.executedPlan))
          val rs = phase(id, "execute")(ds.map(_.collect().head))
          phase(id, "write")(write())
          (phase(id, "collect")((results.zip(rs).map { case (df, r) => Digest.fromFrame(df, r) } :+
            Digest.inCluster(written())).mkString(" ; ")), () => dropped.collect())
      }
    }
    try {
      val (digest, rows) = trace match {
        case Some(t) => t.span(0L, "call", s"${c.layer}/${c.id}")(body)
        case None => body(0L)
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      Result(c.id, seconds, digest, if (c.check == Golden) Array.empty else rows(), None)
    } catch {
      case e: Throwable =>
        Result(c.id, (System.nanoTime() - t0) / 1e9, "", Array.empty,
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
    }
  }
}

object Runner {
  /** The reason a call's output is wrong, if it is. */
  def verdict(fx: Fixture, c: Call, r: Result, golden: Pinned): Option[String] =
    r.error.orElse(c.check match {
      case Golden => golden.digests.get(c.id) match {
        case None => Some("no pinned digest for this call")
        case Some(g) if g != r.digest => Some(s"digest ${r.digest} != pinned $g")
        case _ if golden.unstable(c.id) => Some("known defect: digest differs across pinning passes")
        case _ => None
      }
      case Invariant(name, verify) => verify(fx, r.rows).map(v => s"invariant '$name' violated: $v")
        .orElse(Runner.verdict(fx, c.copy(check = Golden), r, golden))
    })
}

/** One closed-loop run: set up, warm up, then rounds of calls until the
  * time is spent, each call issued only after the previous result is back. */
final class Run(spark: SparkSession, a: Map[String, String], cores: Int) {
  private val workload = a("workload")
  require(Main.Workloads.contains(workload), s"unknown workload $workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a.get("trace").contains("1")
  private val tmp = a("tmp")

  /** Paths in the record are relative to the checkout root. */
  private val cwd = new java.io.File(".").getCanonicalPath

  def run(): Boolean = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val r0 = System.nanoTime()
    val fx = new Fixture(spark, a("data"))
    fx.open(workload)
    val readS = (System.nanoTime() - r0) / 1e9
    val fixtureAtMs = System.currentTimeMillis()
    val golden = Main.loadGolden(a("golden"), workload)
    val trace = if (traced) Some(new Trace(spark)) else None
    val runner = new Runner(fx, trace)

    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    lazy val pass = new Incremental.Pass(fx, (seed % Incremental.Layouts).toInt, s"$tmp/state")
    def issue(c: Call): Result = {
      val res = runner.call(c)
      attempted += 1
      Runner.verdict(fx, c, res, golden).foreach(v => failures += Map("call" -> c.id, "why" -> v))
      res
    }
    // warm-up: the first call, outside the timed sequence; it ends set-up
    if (workload == "incremental") { pass.bootstrap(); issue(pass.batch(1)) }
    else issue(Calls.exploreWarmup)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupSteps = Map("jvm_to_main_s" -> (Main.mainAtMs - jvmStartMs) / 1e3,
      "session_s" -> (Main.sessionAtMs - Main.mainAtMs) / 1e3,
      "fixture_s" -> (fixtureAtMs - Main.sessionAtMs) / 1e3,
      "warmup_s" -> (setupS - (fixtureAtMs - jvmStartMs) / 1e3))

    // driver-side copies the checks read, loaded outside every timed span
    if (workload == "incremental") fx.docTokens
    val calibBefore = Canary.sample(spark)
    trace.foreach(_.start())
    val gc0 = gcMs()
    val cg0 = Codegen.snapshot()
    val callLog = mutable.ArrayBuffer.empty[(String, Double)]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val roundCalls = mutable.ArrayBuffer.empty[Double]
    // the timed sequence is a fixed number of rounds, so `wall_s` always
    // measures the same work; rounds continue while `seconds` have not
    // passed (and, for `incremental`, while batches remain). `wall_s` sums
    // the calls' own times: the output checks between calls are not in it.
    val (rounds, sequenceRounds) = workload match {
      case "incremental" => ((2 until Incremental.Batches).iterator.map(i => Seq(pass.batch(i))), 3)
      case _ => (Iterator.from(0).map(r => Calls.exploreRound(seed, r)), 2)
    }
    val t0 = System.nanoTime()
    while (rounds.hasNext && (roundWalls.size < sequenceRounds || System.nanoTime() - t0 < seconds * 1e9)) {
      val rs = System.nanoTime()
      val ts = rounds.next().map { c => val t = issue(c).seconds; callLog += c.id -> t; t }
      roundWalls += (System.nanoTime() - rs) / 1e9
      roundCalls += ts.sum
    }
    val cg1 = Codegen.snapshot()
    val gc1 = gcMs()
    trace.foreach(_.stop())
    val calibAfter = Canary.sample(spark)

    val sorted = callLog.map(_._2).sorted
    val tailP = if (workload == "explore") 0.7 else 1.0
    val metrics = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "wall_s" -> roundCalls.take(sequenceRounds).sum,
      "latency_p50_s" -> Percentiles.median(sorted.toSeq),
      "latency_tail_s" -> Percentiles.rank(sorted.toSeq, tailP),
      "ok_ratio" -> (attempted - failures.size.min(attempted)).toDouble / attempted,
      "peak_rss_mb" -> Proc.vmHwmKb() / 1024.0)

    val fnFailures = mutable.ArrayBuffer.empty[String]
    val layers: Map[String, Any] = trace.map { t =>
      val fns = graft.functions.FunctionsBench.run(spark, fx.documents, fx.embeddings, fx.lineitem, fnFailures)
      attempted += graft.functions.FunctionsBench.Checks
      fnFailures.foreach(f => failures += Map("call" -> "functions", "why" -> f))
      Layers.summarize(t, spark, cores, readS, (cg0, cg1), (gc0, gc1),
        if (workload == "incremental") pass.registryRows else 0L, fns)
    }.getOrElse(Map.empty)
    trace.foreach(t => writeTrace(t, a("trace_out")))

    val sc = spark.sparkContext
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "conf" -> (sc.getConf.getAll.toMap ++ spark.conf.getAll)
        .filterNot { case (k, _) => k.startsWith("spark.app.") || k.startsWith("spark.driver.") }
        .map { case (k, v) => k -> v.replace(cwd, ".") }.toSeq.sortBy(_._1).toMap,
      "setup_steps" -> setupSteps,
      "canary_before" -> calibBefore, "canary_after" -> calibAfter,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.toSeq,
      "rounds" -> roundWalls.size,
      "sequence_rounds" -> sequenceRounds,
      "latency_tail" -> Map("p" -> tailP, "n" -> sorted.size,
        "beyond" -> (sorted.size - math.ceil(tailP * sorted.size).toInt)),
      "calls" -> callLog.map { case (id, t) => Map("id" -> id, "s" -> t) },
      "round_walls_s" -> roundWalls.toSeq,
      "metrics" -> metrics,
      "layers" -> layers)
    Main.write(a("out"), record)
    true
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def writeTrace(t: Trace, path: String): Unit = {
    val ss = t.all
    val base = ss.headOption.map(_.start).getOrElse(0L)
    val self = t.selfTimes(ss)
    Main.write(path, Map("unit" -> "ms", "spans" -> ss.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> (s.start - base) / 1e6, "dur_ms" -> (s.end - s.start) / 1e6,
      "self_ms" -> self(s.id) / 1e6))))
  }
}

object Percentiles {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile of sorted values. */
  def rank(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted((math.ceil(p * sorted.size).toInt - 1).max(0).min(sorted.size - 1))
}

object Proc {
  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
}

/** `graft.Bench`'s two machine-speed canaries, same work: `calib_s` is a
  * codegen hash-agg over range(5e7) plus a 2M-row 32-partition exchange,
  * `calib_jobs_s` is 20 minimal one-task jobs. Context only; they gate
  * nothing. */
object Canary {
  def sample(spark: SparkSession): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    def secs(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val calib = secs {
      spark.range(50000000L).selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").agg(sum("v")).write.format("noop").mode("overwrite").save()
      spark.range(2000000L).repartition(32, col("id")).write.format("noop").mode("overwrite").save()
    }
    val jobs = secs {
      (0 until 20).foreach(_ => spark.range(1L, 2L, 1L, 1).write.format("noop").mode("overwrite").save())
    }
    Map("calib_s" -> calib, "calib_jobs_s" -> jobs)
  }
}

/** Spark's whole-stage codegen counters: cumulative Janino compile time and
  * the `CodegenMetrics` compilation count. */
object Codegen {
  def snapshot(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
