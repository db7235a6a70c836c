package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic fixture generator. The benchmark reads only inside its
  * checkout, so it writes its own sf0.1-shaped star schema plus the
  * `events`, `documents` and `embeddings` tables: same table names, column
  * names, types and row counts as the driver's seed-42 sf0.1 fixtures.
  *
  * Every row is a pure function of (data seed, table, row id): each row
  * seeds its own `SplittableRandom`, so the output does not depend on the
  * core count or on partitioning. Each table is written as one parquet
  * file, like the fixtures, so scans start from the same split layout. */
object DataGen {
  val DataSeed = 42L

  private def rng(table: Int, id: Long): SplittableRandom =
    new SplittableRandom(DataSeed * 0x9E3779B97F4A7C15L + table * 1000003L + id)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  val words: Array[String] = ("a the data spark scan sort hash join group agg filter window " +
    "query table column row key value order part line batch stream merge fast slow " +
    "big small vector customer").split(" ")

  /** Base text of document `id`: 8–96 words from a 40-word vocabulary. */
  private def baseText(id: Long): Array[String] = {
    val r = rng(7, id)
    Array.fill(8 + r.nextInt(89))(words(r.nextInt(words.length)))
  }

  /** ~0.5% of documents repeat an earlier text exactly and ~3% repeat it
    * with one or two words changed, so exact and near-dup operators have
    * real work to find. */
  def docText(id: Long): String = {
    val r = rng(8, id)
    val u = r.nextDouble()
    if (id < 10 || u >= 0.035) baseText(id).mkString(" ")
    else {
      val src = id - 1 - r.nextInt(math.min(id, 400L).toInt)
      val ws = baseText(src)
      if (u < 0.005) ws.mkString(" ")
      else {
        val edits = 1 + r.nextInt(2)
        (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = words(r.nextInt(words.length)))
        ws.mkString(" ")
      }
    }
  }

  private val dim = 64
  private val centers: Array[Array[Double]] = Array.tabulate(10) { c =>
    val r = rng(9, c)
    unit(Array.fill(dim)(r.nextGaussian()))
  }
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private def baseVec(id: Long): (Int, Array[Double]) = {
    val r = rng(10, id)
    val label = r.nextInt(10)
    (label, unit(Array.tabulate(dim)(i => centers(label)(i) + 1.1 * r.nextGaussian() / math.sqrt(dim))))
  }

  /** Clustered unit vectors (10 labels); ~2% are small perturbations of an
    * earlier vector, so cosine near-dup operators find pairs. */
  def embedding(id: Long): (Int, Array[Float]) = {
    val r = rng(11, id)
    val (label, v) =
      if (id >= 10 && r.nextDouble() < 0.02) {
        val (l, b) = baseVec(id - 1 - r.nextInt(math.min(id, 400L).toInt))
        (l, unit(b.map(_ + 0.04 * r.nextGaussian() / math.sqrt(dim))))
      } else baseVec(id)
    (label, v.map(_.toFloat))
  }

  private case class Table(name: String, rows: Long, schema: StructType, row: Long => Row)

  private def tables: Seq[Table] = Seq(
    Table("customer", 15000L, StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))), id => {
      val r = rng(1, id)
      Row(id, f"Customer#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.nextInt(5)))
    }),
    Table("supplier", 1000L, StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))), id => {
      val r = rng(2, id)
      Row(id, f"Supplier#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }),
    Table("orders", 150000L, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))), id => {
      val r = rng(3, id)
      Row(id, r.nextLong(15000L), Vector("F", "O", "P")(r.nextInt(3)), money(r, 1000.0, 500000.0),
        day0.plusDays(r.nextInt(2404)),
        Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
    }),
    Table("lineitem", 600000L, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))), id => {
      val r = rng(4, id)
      Row(r.nextLong(150000L), r.nextLong(20000L), r.nextLong(1000L), 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Vector("A", "N", "R")(r.nextInt(3)), Vector("F", "O")(r.nextInt(2)),
        day0.plusDays(1 + r.nextInt(2498)))
    }),
    Table("events", 100000L, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), id => {
      val r = rng(5, id)
      Row(id, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos((id * 40L + r.nextInt(40)) * 1000000000L
          + r.nextInt(1000000) * 1000L),
        r.nextLong(1500L), Vector("click", "error", "purchase", "signup", "view")(r.nextInt(5)),
        math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }),
    Table("documents", 5000L, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), id => {
      val r = rng(6, id)
      val text = docText(id)
      val u = r.nextDouble()
      val lang = if (u < 0.4) "en" else Vector("de", "es", "fr", "zh")(((u - 0.4) / 0.15).toInt.min(3))
      Row(id, text, lang, s"src${id % 20}", text.length.toLong)
    }),
    Table("embeddings", 2000L, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))), id => {
      val (label, v) = embedding(id)
      Row(id, v.toSeq, label)
    }))

  /** Writes every table under `dir` as `<name>.parquet`. */
  def generate(spark: SparkSession, dir: String): Unit =
    tables.foreach { t =>
      val rows = spark.sparkContext.range(0L, t.rows, 1L, 4).map(t.row)
      spark.createDataFrame(rows, t.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }
}
