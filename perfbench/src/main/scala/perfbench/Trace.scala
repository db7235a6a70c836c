package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for a call); job spans are parented to the phase span that was open
  * on the client thread when Spark submitted the job. Times are
  * nanoseconds on the driver's monotonic clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Long, end: Long)

/** In-memory tracer: spans recorded from the benchmark's own calls into the
  * library and from a listener the benchmark registers, written out when
  * the run ends. Library code is untouched: the phase span id reaches Spark
  * jobs through a local property set on the client thread. */
final class Trace(spark: SparkSession) {
  val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val kinds = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val hookNs = new LongAdder

  // client-thread span bookkeeping
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val h0 = System.nanoTime()
    val id = ids.incrementAndGet()
    kinds.put(id, kind)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    hookNs.add(t0 - h0)
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, kind, name, t0, t1))
      sc.setLocalProperty(Prop, prev)
      hookNs.add(System.nanoTime() - t1)
    }
  }

  // ---------------------------------------------------------------- listener
  /** Run-level task sums over traced jobs. */
  final class Sums {
    val tasks, runMs, cpuNs, gcMs, overheadMs, serialMs = new LongAdder
    val shuffleWrite, shuffleRead, fetchWaitMs, spill, bytesRead, recordsRead, bytesWritten = new LongAdder
    /** CPU of the tasks of jobs launched inside `execute` phases. */
    val executeCpuNs = new LongAdder
    val peakMem = new AtomicLong(0)
  }
  val sums = new Sums
  val stages = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // driver nanoTime minus wall-clock millis, to place listener events on the span clock
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
      parent.foreach { p =>
        jobStart.put(e.jobId, (p, e.time * 1000000L + clockOffset))
        e.stageInfos.foreach { s =>
          stageJob.put(s.stageId, e.jobId); stageTasks.put(s.stageId, s.numTasks)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { case (p, t0) =>
        spans.add(Span(ids.incrementAndGet(), p, "job", s"job ${e.jobId}", t0,
          e.time * 1000000L + clockOffset))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      if (stageJob.containsKey(e.stageInfo.stageId)) stages.increment()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null && stageJob.containsKey(e.stageId)) {
        sums.tasks.increment()
        sums.runMs.add(m.executorRunTime)
        sums.cpuNs.add(m.executorCpuTime)
        Option(jobStart.get(stageJob.get(e.stageId))).map(_._1).map(kinds.get)
          .filter(_ == "execute").foreach(_ => sums.executeCpuNs.add(m.executorCpuTime))
        sums.gcMs.add(m.jvmGCTime)
        sums.overheadMs.add(math.max(0L, e.taskInfo.duration - m.executorRunTime))
        if (stageTasks.getOrDefault(e.stageId, 0) == 1) sums.serialMs.add(m.executorRunTime)
        sums.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        sums.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        sums.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        sums.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        sums.bytesRead.add(m.inputMetrics.bytesRead)
        sums.recordsRead.add(m.inputMetrics.recordsRead)
        sums.bytesWritten.add(m.outputMetrics.bytesWritten)
        sums.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  /** Planning phases of every query execution that completed inside the
    * traced window, from Spark's `QueryPlanningTracker`. */
  val phasesMs: mutable.Map[String, Long] = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  val queryExecutions = new LongAdder
  @volatile private var window: (Long, Long) = (Long.MaxValue, Long.MaxValue)
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val ph = qe.tracker.phases
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      if (start >= window._1 && start <= window._2) phasesMs.synchronized {
        queryExecutions.increment()
        Seq("analysis", "optimization", "planning").foreach { k =>
          ph.get(k).foreach(s => phasesMs(k) += s.durationMs)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    hookNs.add(System.nanoTime() - t0)
  }

  def start(): Unit = {
    window = (System.currentTimeMillis(), Long.MaxValue)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Closes the window and waits until every queued listener event has been
    * delivered. */
  def stop(): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    window = (window._1, System.currentTimeMillis())
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def hookSeconds: Double = hookNs.sum() / 1e9
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}
