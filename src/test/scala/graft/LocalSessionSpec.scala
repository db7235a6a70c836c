package graft

import scala.jdk.CollectionConverters._

/** The one session bootstrap: what `LocalSession` sets, that the test base
  * uses it, and that no main grows its own builder again. */
class LocalSessionSpec extends SparkSpec {

  test("a second LocalSession call returns the same session, which is the test base's") {
    val base = SparkTestBase.spark // built first, with its warehouse dir
    assert(LocalSession(4) eq base)
    assert(LocalSession(8) eq base, "a second call ignores its arguments")
  }

  test("extraOptimizations holds each of the three rewrite rules exactly once") {
    assert(spark eq LocalSession(4)) // `spark` first: the test base builds the session
    graft.dist.Binning.tuneSession(spark) // idempotent on a tuned session
    val rules = spark.experimental.extraOptimizations
    Seq(graft.plans.RangeJoinRewrite, graft.plans.IntervalJoinRewrite,
        graft.plans.BoxJoinRewrite).foreach { r =>
      assert(rules.count(_ eq r) == 1, s"$r in $rules")
    }
  }

  test("UTC, cpus shuffle partitions and the codegen class cache") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      LocalSession.CodegenCacheEntries.toString)
    assert(LocalSession.CodegenCacheEntries == 4096)
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("SPARK_GRAFT_CPUS: a positive integer, the core count when unset, " +
    "otherwise an error naming the variable") {
    assert(LocalSession.parseCpus(Some("8")) == 8)
    assert(LocalSession.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    Seq("abc", "0", "-2", "", "4.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](LocalSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("drift guard: only LocalSession.scala builds a SparkSession under src/main") {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally walk.close()
    assert(files.size > 10, s"src/main not found from ${new java.io.File(".").getAbsolutePath}")
    val builders = files.filter { p =>
      "SparkSession\\.builder".r.findFirstIn(java.nio.file.Files.readString(p)).isDefined
    }.map(_.getFileName.toString)
    assert(builders == Seq("LocalSession.scala"), builders)
  }
}
