package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.dist.{Binning, Bins, DistExplore, Histogram}

/** What one benchmark call hands back for timing and checking. */
sealed trait Output
/** A DataFrame result, collected to the driver like the reference's
  * `to_pandas`. */
final case class Frame(df: DataFrame) extends Output
/** A rendered SVG; `render` runs the jobs behind the picture. */
final case class Svg(render: () => String) extends Output
/** A batch of the incremental workload: the batch's dedup results (large,
  * so reduced to their digests inside the cluster), the state writes that
  * follow them, and the written survivors to digest.
  * `dropped` holds the MinHash drops for the invariant check, which runs
  * after the call's time is taken. */
final case class Batch(results: Seq[DataFrame], write: () => Unit, written: () => DataFrame,
                       dropped: DataFrame) extends Output

/** How a call's output is checked. */
sealed trait Check
/** Digest equal to the pinned golden digest of this call id. */
case object Golden extends Check
/** A documented approximate operator, checked against its stated
  * invariant (named by `name`; `verify` returns the violation, if any) as
  * well as against its pinned digest. */
final case class Invariant(name: String, verify: (Fixture, Array[Row]) => Option[String]) extends Check

/** One call of a workload. `layer` is the graft layer whose public
  * function the call enters (`dist` or `llm`). */
final case class Call(id: String, layer: String, check: Check, run: Fixture => Output)

/** The inputs a workload's calls read, each table opened through graft's
  * readers on first use; [[Fixture.open]] opens a workload's tables up
  * front, so set-up pays for reading them. */
final class Fixture(val spark: SparkSession, val dir: String) {
  private def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")
  lazy val lineitem: DataFrame = t("lineitem")
  lazy val orders: DataFrame = t("orders")
  lazy val customer: DataFrame = t("customer")
  lazy val supplier: DataFrame = t("supplier")
  lazy val events: DataFrame = graft.sources.Readers.readEvents(spark, dir)
  lazy val documents: DataFrame = t("documents")
  lazy val embeddings: DataFrame = graft.sources.Readers.readEmbeddings(spark, dir)

  def open(workload: String): Seq[DataFrame] = workload match {
    case "explore" => Seq(lineitem, orders, customer, supplier, events)
    case "incremental" => Seq(documents, embeddings)
  }

  /** Driver-side tokens of every document, for the MinHash invariant check. */
  lazy val docTokens: Map[Long, Array[String]] =
    documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("[^a-z]+").filter(_.nonEmpty)).toMap

  /** Exact Jaccard similarity of two documents' 3-token shingle sets. */
  def jaccard3(a: Long, b: Long): Double = {
    def sh(id: Long) = docTokens(id).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }
}

/** Finite call catalogs: every call a seed can produce has a fixed id, so
  * its digest can be pinned once and checked on every run. */
object Calls {
  private val binChoices = Seq(5, 10, 20, 25, 50, 100)

  // ------------------------------------------------------------------ explore
  private val lineCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  /** Column pairs of equal width, so a seed's choice moves no cost. */
  private val linePairs = lineCols.combinations(2).toSeq
  private val priceEdges = Seq(
    Seq(0.0, 50000.0, 100000.0, 250000.0, 500000.0),
    Seq(1000.0, 2000.0, 5000.0, 10000.0, 20000.0, 50000.0, 100000.0, 200000.0, 500000.0),
    (0 to 20).map(_ * 25000.0),
    Seq(0.0, 1e5, 2e5, 3e5, 4e5, 5e5, 6e5))
  private val valueRanges = Seq((0.0, 100.0), (0.0, 200.0), (10.0, 60.0))

  /** A `dist` call whose DataFrame result is collected and digest-checked. */
  private def frame(id: String, run: Fixture => DataFrame) = Call(id, "dist", Golden, fx => Frame(run(fx)))

  /** explore call kinds, each with its finite parameter space. */
  val exploreKinds: Seq[(String, Seq[Call])] = Seq(
    "hist_count" -> (for (c <- lineCols; b <- binChoices) yield
      frame(s"hist_count:lineitem.$c:b$b", fx => Binning.histogram(fx.lineitem, c, Bins.Count(b)))),
    "hist_edges" -> priceEdges.indices.map(i =>
      frame(s"hist_edges:orders.o_totalprice:e$i",
        fx => Binning.histogram(fx.orders, "o_totalprice", Bins.Edges(priceEdges(i))))),
    "hist_range" -> (for (b <- binChoices; (lo, hi) <- valueRanges) yield
      frame(s"hist_range:events.value:b$b:r$lo-$hi",
        fx => Binning.histogram(fx.events, "value", Bins.Count(b), Some((lo, hi))))),
    "onepass" -> (for (c <- lineCols; b <- binChoices) yield
      frame(s"onepass:lineitem.$c:b$b", fx => Binning.histogramOnePass(fx.lineitem, c, Bins.Count(b)))),
    "columns" -> (for (cs <- linePairs; b <- binChoices) yield
      frame(s"columns:lineitem.${cs.mkString("+")}:b$b", fx => Binning.histogramColumns(fx.lineitem, cs, b))),
    "by_group" -> binChoices.map(b =>
      frame(s"by_group:events.value/event_type:b$b",
        fx => Binning.histogramByGroup(fx.events, "value", "event_type", b))),
    "log" -> binChoices.map(b =>
      frame(s"log:orders.o_totalprice:b$b", fx => Binning.histogramLog(fx.orders, "o_totalprice", b))),
    "cdf" -> (for (c <- lineCols; b <- binChoices) yield
      frame(s"cdf:lineitem.$c:b$b", fx => Binning.cdf(Binning.histogram(fx.lineitem, c, Bins.Count(b))))),
    "labels" -> binChoices.map(b =>
      frame(s"labels:customer.c_acctbal:b$b",
        fx => Binning.withLabels(Binning.histogram(fx.customer, "c_acctbal", Bins.Count(b))))),
    "density" -> binChoices.map(b =>
      frame(s"density:supplier.s_acctbal:b$b",
        fx => Binning.densityPoints(Binning.histogram(fx.supplier, "s_acctbal", Bins.Count(b))))),
    "minmax" -> linePairs.map(cs =>
      frame(s"minmax:lineitem.${cs.mkString("+")}", fx => Binning.minMax(fx.lineitem, cs))),
    "multi_hist" -> binChoices.map(b =>
      frame(s"multi_hist:acctbal:b$b", fx => new Histogram(Bins.Count(b))
        .addColumn(fx.customer, "c_acctbal").addColumn(fx.supplier, "s_acctbal").toHistDF)),
    "multi_density" -> binChoices.map(b =>
      frame(s"multi_density:acctbal:b$b", fx => new Histogram(Bins.Count(b))
        .addColumn(fx.customer, "c_acctbal").addColumn(fx.supplier, "s_acctbal").toDensityDF)),
    "plot_hist" -> (for (c <- lineCols; b <- binChoices) yield
      Call(s"plot_hist:lineitem.$c:b$b", "dist", Golden, fx => {
        val series = Seq(fx.lineitem.select(c))
        Svg(() => DistExplore.plotHist(series, Bins.Count(b), title = c))
      })),
    "plot_distplot" -> binChoices.map(b =>
      Call(s"plot_distplot:events.value:b$b", "dist", Golden, fx => {
        val series = Seq(fx.events.select("value"))
        Svg(() => DistExplore.plotDistplot(series, Bins.Count(b), title = "value"))
      })))

  /** Kinds whose call is issued a second time, unchanged, later in the same
    * round: the 4 of 19 calls (~20%) that exactly repeat an earlier call. */
  private val exploreRepeated = Seq("hist_count", "onepass", "multi_hist", "plot_hist")

  /** The first call of an `explore` run, outside the timed rounds; it ends
    * set-up. */
  val exploreWarmup: Call = frame("warmup", fx => Binning.histogram(fx.lineitem, "l_extendedprice"))

  /** Round `r` of an `explore` run: every kind once, with seeded parameters,
    * in seeded order, plus the exact repeats of [[exploreRepeated]] at
    * seeded later positions. Each round has the same kind mix, so the seed
    * moves parameters and order but not the amount of work. */
  def exploreRound(seed: Long, r: Int): Seq[Call] = {
    val rnd = new scala.util.Random(seed * 1000003L + r)
    val picked = rnd.shuffle(exploreKinds.map { case (k, cs) => k -> cs(rnd.nextInt(cs.size)) })
    exploreRepeated.foldLeft(picked.map(_._2)) { (seq, k) =>
      val call = picked.find(_._1 == k).get._2
      val at = seq.indexOf(call) + 1 + rnd.nextInt(seq.size - seq.indexOf(call))
      seq.patch(at, Seq(call), 0)
    }
  }
}
