package graft.dist

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property layer (SURVEY.md §5): the engine must agree with a literal
  * in-memory transcription of RDD.histogram's counting loop
  * (rdd.py:2347-2361) on arbitrary inputs, and counts must be invariant
  * under partitioning. Uses raw ScalaCheck Gens with a fixed seed (the
  * scalatest-plus bridge isn't in the offline cache). */
class HistogramPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Literal port of rdd.py:2347-2361 (the counting closure): even fast path
    * with int((x-min)/inc) and overflow fold; else bisect_right - 1. */
  private def oracleCounts(values: Seq[Double], edges: Seq[Double]): Seq[Long] = {
    val n = edges.size - 1
    val counters = Array.fill(n + 1)(0L)
    val steps = edges.sliding(2).map(p => p(1) - p(0)).toVector
    val even = steps.max - steps.min < 1e-10
    val minv = edges.head; val maxv = edges.last
    for (x <- values if !x.isNaN && x >= minv && x <= maxv) {
      val slot =
        if (even) math.min(((x - minv) / ((maxv - minv) / n)).toInt, n) // int() truncation
        else {
          // bisect_right(edges, x) - 1
          var lo = 0; var hi = edges.size
          while (lo < hi) { val mid = (lo + hi) / 2; if (x < edges(mid)) hi = mid else lo = mid + 1 }
          lo - 1
        }
      counters(slot) += 1
    }
    counters(n - 1) += counters(n) // fold overflow slot into closed last bucket
    counters.take(n).toSeq
  }

  private val unevenEdges = Seq(-50.0, -10.0, 0.0, 1.0, 25.0, 80.0)

  /** Finite values, salted with `-0.0` (equal to `0.0` under IEEE `<`, but
    * ordered below it by a total order) and with exact edge values. */
  private val finiteGen = Gen.frequency(
    8 -> Gen.chooseNum(-100.0, 100.0), 1 -> Gen.const(-0.0), 2 -> Gen.oneOf(unevenEdges))
  private val valuesGen = Gen.nonEmptyListOf(finiteGen)
  /** Values for explicit edges may also be infinite: a data-derived range
    * over them is refused (rdd.py:2300-2301), explicit edges bin them. */
  private val edgeValuesGen = Gen.nonEmptyListOf(Gen.frequency(
    10 -> finiteGen, 1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity)))
  private val nBinsGen = Gen.choose(1, 12)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: engine == literal rdd.py oracle on derived-range histograms") {
    for (((vs, n), i) <- samples(Gen.zip(valuesGen, nBinsGen), 30).zipWithIndex) {
      val df = vs.toDF("v")
      val h = Binning.histogram(df, "v", Bins.Count(n))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      val lo = vs.min; val hi = vs.max
      val expected =
        if (lo == hi || n == 1) Seq(vs.size.toLong)
        else oracleCounts(vs, Binning.equalWidthEdges(lo, hi, n))
      assert(h == expected, s"case $i: n=$n values=$vs")
    }
  }

  test("property: engine == literal rdd.py oracle on explicit uneven edges") {
    val infinite = Seq(Double.NegativeInfinity, -10.0, 0.0, 1.0, Double.PositiveInfinity)
    for ((vs, i) <- samples(edgeValuesGen, 30).zipWithIndex; edges <- Seq(unevenEdges, infinite)) {
      val h = Binning.histogram(vs.toDF("v"), "v", Bins.Edges(edges))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(h == oracleCounts(vs, edges), s"case $i: edges=$edges values=$vs")
    }
  }

  /** Oracle counts over data-derived equal-width edges spanning [lo, hi]:
    * min == max or one bin is the single bucket of rdd.py:2295-2296. */
  private def derivedCounts(vs: Seq[Double], lo: Double, hi: Double, n: Int): Seq[Long] =
    if (lo == hi || n == 1) Seq(vs.count(x => x >= lo && x <= hi).toLong)
    else oracleCounts(vs, Binning.equalWidthEdges(lo, hi, n))

  test("property: every histogram entry point == literal rdd.py oracle") {
    val gen = Gen.zip(valuesGen, valuesGen, nBinsGen)
    for (((as, bs, n), i) <- samples(gen, 15).zipWithIndex) {
      val (a, b) = (as.toDF("v"), bs.toDF("v"))
      val (lo, hi) = ((as ++ bs).min, (as ++ bs).max)
      val single = Binning.histogram(a, "v", Bins.Count(n)).orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(single == derivedCounts(as, as.min, as.max, n), s"case $i histogram: n=$n values=$as")
      // two series over one shared range, by count and by explicit edges
      def wide(bins: Bins) = new Histogram(bins).addColumn(a, "v", "a").addColumn(b, "v", "b").build()
        .orderBy("bin_id").select("a_cnt", "b_cnt").as[(Long, Long)].collect().toSeq.unzip
      assert(wide(Bins.Count(n)) == ((derivedCounts(as, lo, hi, n), derivedCounts(bs, lo, hi, n))),
        s"case $i build: n=$n a=$as b=$bs")
      assert(wide(Bins.Edges(unevenEdges)) == ((oracleCounts(as, unevenEdges), oracleCounts(bs, unevenEdges))),
        s"case $i build edges: a=$as b=$bs")
      // groups over one shared range; the null-group row widens that range
      // (to include 0.0) but gets no histogram of its own
      val grouped = (as.map("a" -> _) ++ bs.map("b" -> _) :+ (null: String) -> 0.0).toDF("g", "v")
      val byGroup = Binning.histogramByGroup(grouped, "v", "g", n)
        .collect().groupBy(_.getString(0)).map { case (g, rs) => g -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      val (glo, ghi) = (math.min(lo, 0.0), math.max(hi, 0.0))
      assert(byGroup == Map("a" -> derivedCounts(as, glo, ghi, n), "b" -> derivedCounts(bs, glo, ghi, n)),
        s"case $i byGroup: n=$n a=$as b=$bs")
      // log bins over the positive values only
      val pos = as.filter(_ > 0)
      if (pos.nonEmpty) {
        val (plo, phi) = (pos.min, pos.max)
        val expected =
          if (plo == phi || n == 1) Seq(pos.size.toLong)
          else oracleCounts(pos, (0 to n).map {
            case 0 => plo
            case `n` => phi
            case k => math.exp(math.log(plo) + k * (math.log(phi) - math.log(plo)) / n)
          })
        val log = Binning.histogramLog(a, "v", n).orderBy("bin_id").select("cnt").as[Long].collect().toSeq
        assert(log == expected, s"case $i log: n=$n values=$as")
      }
    }
  }

  test("property: sum of counts == number of in-range non-null rows") {
    for ((vs, n) <- samples(Gen.zip(valuesGen, nBinsGen), 20)) {
      val total = Binning.histogram(vs.toDF("v"), "v", Bins.Count(n))
        .agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].collect()(0)
      assert(total == vs.size.toLong) // derived range covers all non-null values
    }
  }

  test("property: histogramColumns == per-column histograms at the shared range") {
    for ((vsA, vsB) <- samples(Gen.zip(valuesGen, valuesGen), 10)) {
      val n = math.max(vsA.size, vsB.size)
      val df = vsA.padTo(n, Double.NaN).zip(vsB.padTo(n, Double.NaN)).toDF("a", "b")
      val lo = math.min(vsA.min, vsB.min); val hi = math.max(vsA.max, vsB.max)
      val multi = Binning.histogramColumns(df, Seq("a", "b"), n = 6)
        .collect().map(r => (r.getLong(3), r.getLong(4))).toSeq
      val ha = Binning.histogram(df, "a", Bins.Count(6), Some((lo, hi)))
        .select("cnt").as[Long].collect().toSeq
      val hb = Binning.histogram(df, "b", Bins.Count(6), Some((lo, hi)))
        .select("cnt").as[Long].collect().toSeq
      assert(multi.map(_._1) == ha && multi.map(_._2) == hb)
    }
  }

  test("property: saltedJoin equals plain join on random skewed data") {
    val gen = Gen.zip(Gen.nonEmptyListOf(Gen.choose(0L, 3L)), Gen.choose(1, 6))
    for ((keys, salts) <- samples(gen, 8)) {
      val big = keys.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "payload")
      val small = (0L to 3L).map(k => (k, s"d$k")).toDF("k", "dim")
      val plain = big.join(small, Seq("k")).select("k", "payload", "dim")
        .collect().map(_.toSeq).toSet
      val salted = Joins.saltedJoin(big, small, Seq("k"), salts)
        .select("k", "payload", "dim").collect().map(_.toSeq).toSet
      assert(salted == plain, s"salts=$salts keys=$keys")
    }
  }

  test("property: counts invariant under repartition/permutation") {
    val rnd = new scala.util.Random(7)
    for (vs <- samples(valuesGen, 10) if vs.distinct.size > 1) {
      val h1 = Binning.histogram(vs.toDF("v"), "v", Bins.Count(7))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      val h2 = Binning.histogram(rnd.shuffle(vs).toDF("v").repartition(7), "v", Bins.Count(7))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(h1 == h2)
    }
  }
}
