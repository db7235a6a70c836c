package graft.dist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bin specification: either a bin count (edges derived from data min/max or
  * an explicit range) or an explicit, validated boundary list.
  *
  * Semantics reproduce PySpark's `RDD.histogram`
  * (pyspark/core/rdd.py:2214-2366), which is the engine the reference library
  * (Bergvca/pyspark_dist_explore, pyspark_dist_explore.py ~L100-160) delegates
  * all bucketing math to. See SURVEY.md §2.3 for the line-exact rule table.
  */
sealed trait Bins
object Bins {
  /** n equal-width bins over [min, max] (or an explicit range). */
  final case class Count(n: Int) extends Bins { require(n >= 1, "bins must be >= 1") }
  /** Explicit boundaries: n+1 edges for n bins. Validated per rdd.py:2315-2326. */
  final case class Edges(edges: Seq[Double]) extends Bins
}

/** Distributed histogram core.
  *
  * Design (SURVEY.md §3/§4): everything stays in the DataFrame world. Every
  * count-based histogram — [[histogram]] (bin count, explicit edges or
  * explicit range), [[histogramLog]], [[histogramManyBins]] /
  * [[Histogram.build]], [[histogramColumns]] and [[histogramByGroup]] — runs
  * on ONE plan: a [[graft.functions.HistogramAgg]] aggregate (a dense
  * per-partition count vector merged element-wise, the rdd.py:2347-2366
  * shape inside Spark) → `posexplode` → bin edges echoed from the
  * driver-side edge vector with `element_at(typedLit(edges))` → `orderBy`.
  * The aggregate itself drops null, NaN and out-of-range values, so no
  * filter, spine join or per-call constant sits in the plan: edge arrays
  * are reference literals, and the generated code is reused across calls.
  *
  * Measured shape under AQE: each global aggregate is 2 Spark jobs, so a
  * histogram with a data-derived range (min/max aggregate, then the
  * counting aggregate) is 4 jobs, and one with explicit edges or an
  * explicit range is 2 — for any number of series or columns. The grouped
  * histogram adds its shuffle and the range-partitioned sort.
  */
object Binning {

  /** Output schema of every histogram: (bin_id INT, bin_lo DOUBLE,
    * bin_hi DOUBLE, cnt BIGINT), dense (zero-count bins present), sorted. */
  val schemaDoc: String = "(bin_id INT, bin_lo DOUBLE, bin_hi DOUBLE, cnt BIGINT)"

  /** Engine session tuning. `InferFiltersFromGenerate` is excluded because it
    * inserts `size(e) > 0 && isnotnull(e)` filters before every explode,
    * re-inlining the generator's (expensive) expression tree into a pushed
    * filter — the tokenize+shingle chain then evaluates ~3× per row instead
    * of once (measured 40% slowdown on the shingle-based dedup operators).
    * Generate with outer=false already skips null/empty inputs, so the
    * exclusion is semantics-neutral. */
  def tuneSession(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // ObjectHashAggregate sort-fallback fix — shared, consumer-path-complete
    // delivery since r14 (see graft.functions.SessionTuning for the full
    // r13 sf100 ENOSPC story and the checked bounded-state contract)
    graft.functions.SessionTuning.ensureObjectAggHashPath(spark)
    // the engine's rewrite rules, for sessions built without
    // spark.sql.extensions=graft.functions.GraftExtensions; each is a
    // no-op unless its spark.graft.*.cellWidth conf is set (idempotent add)
    val rules = Seq(graft.plans.RangeJoinRewrite,
      graft.plans.IntervalJoinRewrite, graft.plans.BoxJoinRewrite)
    val cur = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = cur ++ rules.filterNot(cur.contains)
  }

  /** Equal-width edges: `[i*inc + lo for i in 0 until n] :+ hi` — the last
    * edge is the exact max, absorbing float error (rdd.py:2311-2312). The
    * integer-width nicety (rdd.py:2306-2309) is automatic in IEEE doubles:
    * when (hi-lo) is an integer divisible by n, (hi-lo)/n is exact.
    * Degenerate `lo == hi` or `n == 1` is the single closed bucket
    * `[lo, hi]` (rdd.py:2295-2296); otherwise an infinite width is refused
    * (rdd.py:2300-2301) — an infinite bound, or a span that overflows. */
  def equalWidthEdges(lo: Double, hi: Double, n: Int): Vector[Double] = {
    require(n >= 1, "bins must be >= 1")
    require(!lo.isNaN && !hi.isNaN && lo <= hi, s"invalid range [$lo, $hi]")
    if (lo == hi || n == 1) Vector(lo, hi)
    else {
      val inc = (hi - lo) / n
      require(!inc.isInfinite, "Can not generate buckets with infinite value")
      (0 until n).map(i => i * inc + lo).toVector :+ hi
    }
  }

  /** Boundary validation per rdd.py:2315-2326: at least 2 edges, strictly
    * increasing (sorted, no duplicates), no NaN. */
  def validateEdges(edges: Seq[Double]): Unit = {
    require(edges.size >= 2, "buckets should have more than one value")
    require(!edges.exists(_.isNaN), "can not have NaN in buckets")
    require(edges.sliding(2).forall(p => p(0) < p(1)),
      "buckets should be sorted and should not contain duplicated values")
  }

  /** Even-width detection tolerance per rdd.py:2340-2342. */
  def isEvenWidth(edges: Seq[Double]): Boolean = {
    val steps = edges.sliding(2).map(p => p(1) - p(0)).toVector
    steps.max - steps.min < 1e-10
  }

  /** Bin-id expression for a value column against fixed edges, for the
    * row-level formulations ([[histogram2d]], [[histogramWeighted]],
    * streaming).
    *
    * Even widths (rdd.py:2352-2354 fast path):
    *   `least(floor((x - lo) / step), n-1)` — the `least` clamp folds the
    *   overflow slot for x == max into the last bucket, reproducing the
    *   closed last bucket `[e_{n-1}, e_n]` (rdd.py:2218-2222, 2358-2360).
    * Uneven widths (rdd.py:2355-2356 bisect path):
    *   `bisect_right(edges, x) - 1` as a CASE chain, ELSE = last bucket.
    * Caller must already have filtered to non-null, non-NaN, in-range values
    * (rdd.py:2350-2351: out-of-range and null/NaN are silently dropped).
    */
  def binId(x: Column, edges: Seq[Double]): Column = {
    val n = edges.size - 1
    if (n == 1) lit(0)
    else if (isEvenWidth(edges)) {
      val lo = edges.head
      val step = (edges.last - edges.head) / n
      least(floor((x - lit(lo)) / lit(step)), lit(n - 1)).cast("int")
    } else {
      var c = when(x < edges(1), 0)
      for (i <- 2 until n) c = c.when(x < edges(i), i - 1)
      c.otherwise(n - 1).cast("int")
    }
  }

  /** Null/NaN filter (rdd.py:2275-2282) — what a data-derived range is
    * resolved over. */
  private def cleaned(df: DataFrame, colName: String): DataFrame =
    df.select(col(colName).cast("double").as("x"))
      .where(col("x").isNotNull && !isnan(col("x")))

  /** Dense spine of bin ids 0..n-1 for the row-level formulations (tiny;
    * the post-agg join against it is a broadcast over at most n rows). */
  private def spine(df: DataFrame, n: Int): DataFrame =
    df.sparkSession.range(n).select(col("id").cast("int").as("bin_id"))

  /** Edges of a [[Bins]] spec: explicit edges are validated and win over
    * `range`; a bin count spans `range`, else the data's min/max over the
    * value column `x` of `clean`. */
  private def edgesOf(clean: DataFrame, bins: Bins, range: Option[(Double, Double)]): Vector[Double] =
    bins match {
      case Bins.Edges(es) => validateEdges(es); es.toVector
      case Bins.Count(n) =>
        val (lo, hi) = range.getOrElse(minMaxOf(clean))
        equalWidthEdges(lo, hi, n)
    }

  /** `bin_lo` / `bin_hi` of bin `b`, echoed from the edge vector. For
    * equal-width edges this is bit-identical to the oracle's
    * `i*step + lo` arithmetic, because [[equalWidthEdges]] computes exactly
    * that on the driver. */
  private def edgeCols(b: Column, es: Vector[Double],
                       loName: String = "bin_lo", hiName: String = "bin_hi"): Seq[Column] = Seq(
    element_at(typedLit(es.dropRight(1)), b + 1).as(loName),
    element_at(typedLit(es.drop(1)), b + 1).as(hiName))

  /** The counting plan: one global aggregate of one count vector per
    * `(value, output name)` pair, exploded to dense sorted rows
    * `(bin_id, bin_lo, bin_hi, <name> ...)`. */
  private def vectorHistogram(df: DataFrame, es: Vector[Double],
                              series: Seq[(Column, String)]): DataFrame = {
    val aggs = series.zipWithIndex.map { case ((x, _), i) =>
      graft.functions.HistogramAgg.hist_counts(x, es).as(s"c$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(posexplode(arrays_zip(series.indices.map(i => col(s"c$i")): _*)).as(Seq("bin_id", "z")))
      .select(Seq(col("bin_id").cast("int").as("bin_id")) ++ edgeCols(col("bin_id"), es) ++
        series.indices.map(i => col("z").getField(s"c$i").as(series(i)._2)): _*)
      .orderBy("bin_id")
  }

  /** Histogram of one numeric column. Returns a dense, sorted DataFrame
    * `(bin_id, bin_lo, bin_hi, cnt)`.
    *
    * `range` overrides the data-derived min/max (reference `range=` kwarg);
    * explicit `Bins.Edges` ignores `range` (edges win). Degenerate min==max
    * (or n==1) yields the single closed bucket `[v, v]` (rdd.py:2295-2296).
    * Empty input with derived range raises (rdd.py:2290-2292).
    */
  def histogram(df: DataFrame, colName: String, bins: Bins = Bins.Count(10),
                range: Option[(Double, Double)] = None): DataFrame = {
    val clean = cleaned(df, colName)
    vectorHistogram(clean, edgesOf(clean, bins, range), Seq(col("x") -> "cnt"))
  }

  /** One combined min/max aggregate, 2 jobs under AQE (SURVEY.md §3 design
    * target: the reference ran 2 collect jobs per series). */
  private[dist] def minMaxOf(clean: DataFrame): (Double, Double) = {
    val r = clean.agg(min("x"), max("x")).head()
    if (r.isNullAt(0))
      throw new IllegalArgumentException("can not generate buckets from empty RDD") // rdd.py:2290-2292
    (r.getDouble(0), r.getDouble(1))
  }

  /** The single-pass histogram — since every histogram runs the one
    * [[graft.functions.HistogramAgg]] plan, the same as [[histogram]]. */
  def histogramOnePass(df: DataFrame, colName: String, bins: Bins = Bins.Count(10),
                       range: Option[(Double, Double)] = None): DataFrame =
    histogram(df, colName, bins, range)

  /** Multi-series histogram with a SHARED range across all series — the
    * reference's only cross-series interaction (global min of mins / max of
    * maxes unless `range=` given; pyspark_dist_explore.py ~L100-118).
    * Output: (bin_id, bin_lo, bin_hi, <label>_cnt ...), dense, sorted.
    */
  def histogramMany(series: Seq[(DataFrame, String, String)], n: Int = 10,
                    range: Option[(Double, Double)] = None): DataFrame =
    histogramManyBins(series, Bins.Count(n), range)

  /** [[histogramMany]] generalized to any [[Bins]] spec. The series are
    * tagged and unioned; one min/max aggregate (skipped for explicit edges
    * or range, mirroring the reference's `bins=list`) and one counting
    * aggregate holding one `hist_counts(when(series = label, x))` vector
    * per series: 4 jobs for any number of series, 2 without the min/max. */
  def histogramManyBins(series: Seq[(DataFrame, String, String)], bins: Bins,
                        range: Option[(Double, Double)] = None): DataFrame = {
    require(series.nonEmpty, "at least one series required")
    val labels = dedupeLabels(series.map(_._3))
    val clean = series.zip(labels).map { case ((df, c, _), lbl) =>
      df.select(col(c).cast("double").as("x"), lit(lbl).as("series"))
    }.reduce(_ unionByName _)
      .where(col("x").isNotNull && !isnan(col("x")))
    vectorHistogram(clean, edgesOf(clean, bins, range),
      labels.map(l => when(col("series") === l, col("x")) -> s"${l}_cnt"))
  }

  /** Multi-column histogram over ONE frame in ONE scan: the reference's
    * `add_data(multi_col_df)` splits into per-column series with a SHARED
    * range; here all N columns ride a single pass — one combined min/max agg
    * (shared lo/hi = min of mins / max of maxes), then one aggregate
    * producing a dense [[graft.functions.HistogramAgg]] count vector per
    * column: 4 jobs for any N (2 with an explicit range), N× fewer scans
    * than the union formulation. Output: (bin_id, bin_lo, bin_hi,
    * <col>_cnt ...), dense, sorted. */
  def histogramColumns(df: DataFrame, cols: Seq[String], n: Int = 10,
                       range: Option[(Double, Double)] = None): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    val xs = cols.map(c => col(c).cast("double"))
    val (lo, hi) = range.getOrElse {
      // NaN excluded from range resolution (rdd.py:2275-2282); min/max skip
      // nulls, and NaN would otherwise poison max (NaN sorts greatest).
      // least/greatest need >= 2 args — pass through for a single column.
      val nanFree = xs.map(x => when(!isnan(x), x))
      val mins = nanFree.map(min)
      val maxs = nanFree.map(max)
      val loC = if (mins.size == 1) mins.head else least(mins: _*)
      val hiC = if (maxs.size == 1) maxs.head else greatest(maxs: _*)
      val r = df.agg(loC.as("lo"), hiC.as("hi")).head()
      if (r.isNullAt(0))
        throw new IllegalArgumentException("can not generate buckets from empty RDD")
      (r.getDouble(0), r.getDouble(1))
    }
    // null/NaN/out-of-range drops happen inside the aggregate (rdd.py:2350)
    vectorHistogram(df, equalWidthEdges(lo, hi, n), xs.zip(cols.map(c => s"${c}_cnt")))
  }

  /** Duplicate series names get " (k)" suffixes, mirroring the reference's
    * add_column de-dupe (pyspark_dist_explore.py ~L80-90). */
  private[dist] def dedupeLabels(names: Seq[String]): Seq[String] = {
    // re-check each candidate against everything issued so far: a naive
    // per-name counter can emit a suffix colliding with a USER-SUPPLIED
    // label (e.g. "a", "a (1)", "a" -> two "a (1)" output columns)
    val seen = scala.collection.mutable.Set.empty[String]
    names.map { nm =>
      var cand = nm
      var k = 1
      while (seen(cand)) { cand = s"$nm ($k)"; k += 1 }
      seen += cand
      cand
    }
  }

  /** Grouped histogram: shared global range over the whole column, counts per
    * (group, bin). Dense over non-null groups × bins.
    *
    * Counting is one [[graft.functions.HistogramAgg]] vector per group over
    * every row with a non-null group — the aggregate drops null, NaN and
    * out-of-range values itself, so a group whose values all drop still
    * gets its all-zero vector, with no distinct-group scan or join. The
    * shuffle carries n_groups fixed-width count vectors instead of
    * n_groups × n_bins rows. */
  def histogramByGroup(df: DataFrame, valueCol: String, groupCol: String, n: Int = 10,
                       range: Option[(Double, Double)] = None): DataFrame = {
    val xs = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
    val (lo, hi) = range.getOrElse(minMaxOf(xs.where(col("x").isNotNull && !isnan(col("x")))))
    xs.where(col("grp").isNotNull)
      .groupBy(col("grp"))
      .agg(graft.functions.HistogramAgg.hist_counts(col("x"), equalWidthEdges(lo, hi, n)).as("cnts"))
      .select(col("grp"), posexplode(col("cnts")).as(Seq("bin_id", "cnt")))
      .select(col("grp").as(groupCol), col("bin_id").cast("int").as("bin_id"), col("cnt"))
      .orderBy(groupCol, "bin_id")
  }

  /** `to_pandas(kind='hist')` label: `"%.2f - %.2f"` over the bin edges
    * (pyspark_dist_explore.py ~L210). Input: any histogram result. */
  def withLabels(hist: DataFrame): DataFrame =
    hist.withColumn("bin_label", format_string("%.2f - %.2f", col("bin_lo"), col("bin_hi")))

  /** `to_pandas(kind='density')` points: bin centers = (e_i + e_{i+1}) / 2
    * (pyspark_dist_explore.py ~L200-230). */
  def densityPoints(hist: DataFrame): DataFrame =
    hist.select(col("bin_id"), ((col("bin_lo") + col("bin_hi")) / 2).as("bin_center"), col("cnt"))
      .orderBy("bin_id")

  /** Equal-frequency (equi-depth) histogram: bin edges at the exact
    * interpolated quantiles 0, 1/n, …, 1 (SQL `percentile` — the same
    * linear-interpolation contract as [[Stats.quantiles]] and DuckDB's
    * `quantile_cont`, so the operator stays oracle-checkable), then the
    * standard explicit-edges binning. Each bin holds ≈ rows/n — the right
    * histogram for heavy-tailed columns where equal-width bins put
    * everything in one bucket.
    *
    * Two aggregates, like the data-derived-range path: one quantile
    * aggregate (n+1 doubles to the driver) and the counting one. The exact
    * percentile buffers the column per partition — at 100 TB compute edges
    * with `approx_percentile` instead (sketch tier, same downstream
    * binning); this is the oracle-checkable verifier tier. Fails fast if
    * edges collide (heavy mass at a single value) — lower `n` there. */
  def histogramEquiDepth(df: DataFrame, colName: String, n: Int = 10): DataFrame = {
    require(n >= 1, "bins must be >= 1")
    val ps = (0 to n).map(_.toDouble / n)
    // starvation-gated spread (r15, guide §2.5): the exact percentile
    // buffers every row map-side; a one-row-group fixture is ONE scan split,
    // so the buffer build ran on 1 of N cores. Multiset-exact — edges are
    // identical under any partitioning; gate off on multi-split inputs.
    val row = graft.functions.Rebalance.spreadGated(cleaned(df, colName), 0)
      .agg(percentile(col("x"), array(ps.map(lit): _*)).as("es")).head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("can not generate buckets from empty RDD")
    val edges = row.getSeq[Double](0).toVector
    require(edges.distinct.size == edges.size,
      s"equi-depth edges collide (mass concentrated at one value): $edges — reduce n")
    histogram(df, colName, Bins.Edges(edges))
  }

  /** The 100 TB tier of [[histogramEquiDepth]]: edges from the
    * Greenwald-Khanna sketch (`approx_percentile` — single pass, mergeable
    * partials, bounded memory) instead of the exact sort-based percentile.
    * Bin populations are approximately equal within the sketch's rank error
    * (n_rows/accuracy); no cross-engine oracle (sketch-specific edges) —
    * property-tested against the exact tier instead. */
  def histogramEquiDepthApprox(df: DataFrame, colName: String, n: Int = 10,
                               accuracy: Int = 10000): DataFrame = {
    require(n >= 1, "bins must be >= 1")
    val ps = (0 to n).map(_.toDouble / n)
    val row = cleaned(df, colName)
      .agg(approx_percentile(col("x"), array(ps.map(lit): _*), lit(accuracy)).as("es")).head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("can not generate buckets from empty RDD")
    val edges = row.getSeq[Double](0).toVector
    require(edges.distinct.size == edges.size,
      s"equi-depth edges collide (mass concentrated at one value): $edges — reduce n")
    histogram(df, colName, Bins.Edges(edges))
  }

  /** Cumulative distribution over a histogram: running count and CDF
    * fraction per bin. Input is any `(bin_id, …, cnt)` histogram result —
    * an ALREADY-AGGREGATED n_bins-row frame — so the single-partition window
    * is O(n_bins) driver-adjacent work, not a data-scale sort (the
    * `partitionBy(lit(0))` keeps Spark from logging the no-partition
    * warning). The fraction is an exact-integer running sum over an exact
    * total with one double division per bin: bit-deterministic. */
  def cdf(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy(lit(0)).orderBy("bin_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist.withColumn("cum_cnt", sum(col("cnt")).over(run))
      .withColumn("cdf", col("cum_cnt").cast("double") / sum(col("cnt")).over(all).cast("double"))
      .orderBy("bin_id")
  }

  /** Log-spaced histogram: n geometric bins over [lo, hi] — the right shape
    * for heavy-tailed positive columns (latencies, prices, document sizes)
    * where equal-width bins dump everything into one bucket. Edge i is
    * `exp(ln lo + i·(ln hi − ln lo)/n)` with the first/last edges pinned to
    * the exact lo/hi (absorbing float error, as the even-width path does);
    * binning is the standard explicit-edges bisect. Non-positive values are
    * dropped with nulls/NaNs (log scale is undefined there — documented
    * divergence from the linear drop rule). Same plan and job count as
    * [[histogram]]. */
  def histogramLog(df: DataFrame, colName: String, n: Int = 10,
                   range: Option[(Double, Double)] = None): DataFrame = {
    require(n >= 1, "bins must be >= 1")
    val clean = cleaned(df, colName).where(col("x") > 0)
    val (lo, hi) = range.getOrElse(minMaxOf(clean))
    require(lo > 0 && lo <= hi, s"log bins need 0 < lo <= hi, got [$lo, $hi]")
    val (llo, lhi) = (math.log(lo), math.log(hi))
    val edges =
      if (lo == hi || n == 1) Vector(lo, hi)
      else (0 to n).map {
        case 0 => lo
        case `n` => hi
        case i => math.exp(llo + i * (lhi - llo) / n)
      }.toVector
    vectorHistogram(clean, edges, Seq(col("x") -> "cnt"))
  }

  /** 2-D histogram (heatmap grid): joint counts over an `nx × ny` equal-width
    * grid spanning both columns' data ranges (or explicit ranges). Rows where
    * EITHER value is null/NaN/out-of-range are dropped — the 2-D analogue of
    * the rdd.py:2350-2351 drop rule, applied per axis; each axis keeps the
    * closed-last-bucket clamp.
    *
    * One combined min/max agg for both axes, one counting pass
    * (`groupBy(bin_x, bin_y)` hash-agg — shuffle of at most nx × ny rows),
    * then a dense-grid spine join (tiny broadcast).
    * Degenerate axes (min == max) collapse to a single closed bucket on that
    * axis. Output: (bin_x, bin_y, x_lo, x_hi, y_lo, y_hi, cnt), dense,
    * sorted by (bin_x, bin_y). */
  def histogram2d(df: DataFrame, colX: String, colY: String, nx: Int = 10, ny: Int = 10,
                  rangeX: Option[(Double, Double)] = None,
                  rangeY: Option[(Double, Double)] = None): DataFrame = {
    require(nx >= 1 && ny >= 1, "bins must be >= 1")
    val clean = df.select(col(colX).cast("double").as("x"), col(colY).cast("double").as("y"))
      .where(col("x").isNotNull && !isnan(col("x")) && col("y").isNotNull && !isnan(col("y")))
    val (xlo, xhi, ylo, yhi) = (rangeX, rangeY) match {
      case (Some((a, b)), Some((c, dd))) => (a, b, c, dd)
      case _ =>
        val r = clean.agg(min("x"), max("x"), min("y"), max("y")).head()
        if (r.isNullAt(0))
          throw new IllegalArgumentException("can not generate buckets from empty RDD")
        (rangeX.map(_._1).getOrElse(r.getDouble(0)), rangeX.map(_._2).getOrElse(r.getDouble(1)),
          rangeY.map(_._1).getOrElse(r.getDouble(2)), rangeY.map(_._2).getOrElse(r.getDouble(3)))
    }
    require(xlo <= xhi && ylo <= yhi, s"invalid ranges [$xlo,$xhi] [$ylo,$yhi]")
    val (nxe, nye) = (if (xlo == xhi) 1 else nx, if (ylo == yhi) 1 else ny)
    val xes = equalWidthEdges(xlo, xhi, nxe)
    val yes = equalWidthEdges(ylo, yhi, nye)
    val inRange = clean.where(col("x") >= lit(xlo) && col("x") <= lit(xhi) &&
      col("y") >= lit(ylo) && col("y") <= lit(yhi))
    val counts = inRange
      .groupBy(binId(col("x"), xes).as("bin_x"), binId(col("y"), yes).as("bin_y"))
      .agg(count(lit(1)).as("cnt"))
    val grid = df.sparkSession.range(nxe).select(col("id").cast("int").as("bin_x"))
      .crossJoin(df.sparkSession.range(nye).select(col("id").cast("int").as("bin_y")))
    grid.join(counts, Seq("bin_x", "bin_y"), "left")
      .na.fill(0L, Seq("cnt"))
      .select(Seq(col("bin_x"), col("bin_y")) ++
        edgeCols(col("bin_x"), xes, "x_lo", "x_hi") ++
        edgeCols(col("bin_y"), yes, "y_lo", "y_hi") ++ Seq(col("cnt")): _*)
      .orderBy("bin_x", "bin_y")
  }

  /** Weighted histogram: per bin, the row count AND the exact sum of a weight
    * column (revenue per price band, bytes per latency bucket, token mass per
    * doc-length bin, …). The value column follows the full §2.3 drop rules;
    * rows with a null/NaN weight still count in `cnt` but contribute nothing
    * to `wsum` (documented asymmetry — the row exists, its weight doesn't).
    *
    * The weight sum aggregates as `decimal(28,6)` casts so it is
    * order-independent under any partitioning (double summation would drift
    * with the shuffle schedule), surfaced as a double. Counting is a
    * `groupBy(bin_id)` with an n_bins-row shuffle and a spine join for the
    * empty bins. Output: (bin_id, bin_lo, bin_hi, cnt, wsum), dense,
    * sorted. */
  def histogramWeighted(df: DataFrame, colName: String, weightCol: String,
                        bins: Bins = Bins.Count(10),
                        range: Option[(Double, Double)] = None): DataFrame = {
    val clean = df.select(col(colName).cast("double").as("x"),
        col(weightCol).cast("double").as("w"))
      .where(col("x").isNotNull && !isnan(col("x")))
    val es = edgesOf(clean, bins, range)
    val wsum = sum(when(!isnan(col("w")), col("w")).cast("decimal(28,6)"))
      .cast("double").as("wsum")
    val inRange = clean.where(col("x") >= lit(es.head) && col("x") <= lit(es.last))
    val counts = inRange
      .groupBy(binId(col("x"), es).as("bin_id"))
      .agg(count(lit(1)).as("cnt"), wsum)
    spine(clean, es.size - 1).join(counts, Seq("bin_id"), "left")
      .na.fill(0L, Seq("cnt")).na.fill(0.0, Seq("wsum"))
      .select(Seq(col("bin_id")) ++ edgeCols(col("bin_id"), es) ++ Seq(col("cnt"), col("wsum")): _*)
      .orderBy("bin_id")
  }

  /** Min/max over several columns of one frame in one combined agg — the
    * reference ran 2 collect jobs PER series (SURVEY.md §3 step 2). */
  def minMax(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"${c}_min"),
      max(col(c).cast("double")).as(s"${c}_max")))
    df.agg(aggs.head, aggs.tail: _*)
  }
}
