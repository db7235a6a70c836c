package graft.dist

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Plan-shape contract of the count-based histograms: every entry point
  * counts with one [[graft.functions.HistogramAgg]] aggregate, so no plan
  * may contain a join (the old dense-bin spine joins), and only the grouped
  * histogram — whose output is sorted across groups — may range-partition.
  * Job counts are pinned through a listener on a private job group. */
class HistogramPlanShapeSpec extends SparkSpec {

  private lazy val data: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_shape").resolve("t").toString
    spark.range(2000)
      .select((col("id") % 97 * 1.5).as("v"), (col("id") % 89 - 10.0).as("w"),
        (col("id") % 5).cast("string").as("g"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def entryPoints: Seq[(String, () => DataFrame)] = Seq(
    "histogram count" -> (() => Binning.histogram(data, "v", Bins.Count(10))),
    "histogram edges" -> (() => Binning.histogram(data, "v", Bins.Edges(Seq(0.0, 1.0, 10.0, 100.0, 200.0)))),
    "histogram range" -> (() => Binning.histogram(data, "v", Bins.Count(10), Some((0.0, 50.0)))),
    "histogramLog" -> (() => Binning.histogramLog(data, "v", 10)),
    "Histogram.build" -> (() => new Histogram(Bins.Count(10))
      .addColumn(data, "v", "a").addColumn(data, "w", "b").build()),
    "histogramByGroup" -> (() => Binning.histogramByGroup(data, "v", "g", 10)))

  test("plan shape: no histogram entry point joins; only histogramByGroup range-partitions") {
    for ((name, build) <- entryPoints) {
      val plan = build().queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
      assert(plan.contains("hist_counts"), s"$name does not count with hist_counts:\n$plan")
      if (name != "histogramByGroup")
        assert(!plan.contains("rangepartitioning"), s"$name range-partitions:\n$plan")
    }
  }

  /** Spark jobs started by `body` (including those run while building the
    * DataFrame, e.g. the min/max pre-pass), counted under a private job
    * group after the listener bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"plan-shape-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "histogram job count")
      try body finally sc.clearJobGroup()
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("job count: data-derived histogram in <= 4 jobs, explicit edges or range in <= 2") {
    data.count() // materialize the fixture outside the counted groups
    val derived = jobsOf(Binning.histogram(data, "v", Bins.Count(10)).collect())
    val edges = jobsOf(Binning.histogram(data, "v", Bins.Edges(Seq(0.0, 1.0, 10.0, 100.0, 200.0))).collect())
    val ranged = jobsOf(Binning.histogram(data, "v", Bins.Count(10), Some((0.0, 50.0))).collect())
    assert(derived >= 1 && derived <= 4, s"data-derived histogram ran $derived jobs")
    assert(edges >= 1 && edges <= 2, s"explicit-edges histogram ran $edges jobs")
    assert(ranged >= 1 && ranged <= 2, s"explicit-range histogram ran $ranged jobs")
  }
}
