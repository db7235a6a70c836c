package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** Isolated timings of graft's custom expressions against the built-in
  * expression tree each one replaced, over fixed fixture columns, with the
  * outputs of both asserted identical row for row.
  *
  * Expressions run alone: the fixture column is held on the driver as
  * internal rows and both sides are evaluated through a generated
  * `UnsafeProjection`, so no job, scan or shuffle enters the time.
  * `hist_counts` is an aggregate, so it and its `groupBy(bin).count()`
  * counterpart run as jobs over the same cached column. `dec8` is the
  * driver-side string-to-scaled-long step of the decimal aggregates; it
  * lives in this package because `Dec8` is package-private. */
object FunctionsBench {
  /** Output-parity checks per run, one per expression. */
  val Checks = 5
  private val MinSeconds = 0.1
  private val Samples = 3

  /** ns per row of `body`, which evaluates `rows` rows: the median of
    * [[Samples]] samples, each repeating `body` for at least [[MinSeconds]]. */
  private def nsPerRow(rows: Int)(body: => Unit): Double = {
    val samples = (1 to Samples).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < MinSeconds * 1e9) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / reps / rows
    }
    samples.sorted.apply(Samples / 2)
  }

  /** Times `custom` against `builtin` over the rows of `input`; appends a
    * failure when any row's outputs differ. */
  private def project(input: DataFrame, custom: Column, builtin: Column, name: String,
                      failures: mutable.Buffer[String]): Map[String, Double] = {
    // an RDD-backed frame, so the optimizer cannot fold the projection into the relation
    val src = input.sparkSession.createDataFrame(input.rdd, input.schema)
    val rows: Array[InternalRow] = src.queryExecution.toRdd.map(_.copy()).collect()
    def compiled(c: Column) = {
      val plan = src.select(c.as("o")).queryExecution.optimizedPlan.asInstanceOf[Project]
      val p = UnsafeProjection.create(plan.projectList, plan.child.output)
      p.initialize(0)
      (p, plan.projectList.head.dataType)
    }
    val (pc, tc) = compiled(custom)
    val (pb, tb) = compiled(builtin)
    val same = rows.forall { r =>
      val (x, y) = (pc(r).get(0, tc), pb(r).get(0, tb))
      (x, y) match {
        case (null, null) => true
        case (a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData) =>
          val et = tc.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
          a.toSeq[AnyRef](et) == b.toSeq[AnyRef](et)
        case (a: java.lang.Double, b: java.lang.Double) =>
          java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)
        case (a, b) => a == b
      }
    }
    if (!same) failures += s"$name: custom and built-in outputs differ"
    Map(s"functions.$name.ns_per_row" -> nsPerRow(rows.length)(rows.foreach(pc(_))),
      s"functions.$name.builtin_ns_per_row" -> nsPerRow(rows.length)(rows.foreach(pb(_))))
  }

  def run(spark: SparkSession, documents: DataFrame, embeddings: DataFrame, lineitem: DataFrame,
          failures: mutable.Buffer[String]): Map[String, Double] = {
    val text = documents.select(col("text"))
    val toks = documents.select(functions.ascii_tokens(col("text")).as("toks")).where(size(col("toks")) >= 3)
    val pairs = embeddings.select(col("vec_id"), col("embedding").as("a"))
      .join(embeddings.select(((col("vec_id") + 1) % 2000).as("vec_id"), col("embedding").as("b")), "vec_id")
      .select("a", "b")
    val out = mutable.LinkedHashMap.empty[String, Double]
    out ++= project(text, functions.ascii_tokens(col("text")),
      filter(split(lower(col("text")), "[^a-z]+"), t => t =!= lit("")), "ascii_tokens", failures)
    out ++= project(toks, functions.shingle_window_hashes(col("toks"), 3),
      transform(sequence(lit(1), size(col("toks")) - 3 + 1),
        st => xxhash64(concat_ws(" ", slice(col("toks"), st, lit(3))))), "shingle_window_hashes", failures)
    out ++= project(pairs, functions.float_dot(col("a"), col("b")),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v), "float_dot", failures)

    val strs = lineitem.select(col("l_extendedprice")).collect().map(r => java.lang.Double.toString(r.getDouble(0)))
    def viaBigDecimal(s: String) =
      new java.math.BigDecimal(s).setScale(8, java.math.RoundingMode.HALF_UP).unscaledValue.longValue
    if (!strs.forall(s => Dec8.scaled8(s) == viaBigDecimal(s))) failures += "dec8: fast path and BigDecimal differ"
    var sink = 0L
    out("functions.dec8.ns_per_row") = nsPerRow(strs.length)(strs.foreach(s => sink ^= Dec8.scaled8(s)))
    out("functions.dec8.builtin_ns_per_row") = nsPerRow(strs.length)(strs.foreach(s => sink ^= viaBigDecimal(s)))

    val xs = lineitem.select(col("l_extendedprice").as("x")).persist()
    val n = xs.count().toInt
    val edges = graft.dist.Binning.equalWidthEdges(900.0, 105000.0, 50)
    val viaAgg = xs.agg(HistogramAgg.hist_counts(col("x"), edges)).head().getSeq[Long](0)
    val grouped = xs.where(col("x") >= edges.head && col("x") <= edges.last)
      .groupBy(graft.dist.Binning.binId(col("x"), edges).as("b")).count()
    val viaGroup = grouped.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (viaAgg != edges.indices.dropRight(1).map(i => viaGroup.getOrElse(i, 0L)))
      failures += "hist_counts: aggregate and groupBy counts differ"
    out("functions.hist_counts.ns_per_row") =
      nsPerRow(n)(xs.agg(HistogramAgg.hist_counts(col("x"), edges)).collect())
    out("functions.hist_counts.builtin_ns_per_row") = nsPerRow(n)(grouped.collect())
    xs.unpersist(blocking = true)
    out.toMap
  }
}
