package graft.dist

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Offline result pin for the reference-core `dist` queries of
  * [[SparkEntry.queries]] at sf0.01: per query, the row count, the schema
  * string and an order-free Σ xxhash64 over all columns (as decimal) — the
  * same fingerprint the benchmark's output check uses. Any change to a
  * count, an edge bit or a column name fails here, so a refactor of
  * [[Binning]] has to reproduce every result exactly. */
class ReferenceCoreDigestSpec extends SparkSpec {

  /** The sf0.01 seed-42 fixture tables (TESTDATA.md), the correctness scale. */
  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.01"
  private def testdataPresent = new java.io.File(s"$sfDir/lineitem.parquet").exists()

  private def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    s"${r.getLong(0)}|${df.schema.simpleString}|$s"
  }

  private val pinned: Seq[(String, String)] = Seq(
    "minmax_extendedprice" ->
      "1|struct<l_extendedprice_min:double,l_extendedprice_max:double>|-449579179873063547",
    "hist_eqwidth10_extendedprice" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|14288446800597097255",
    "hist_onepass_extendedprice" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|14288446800597097255",
    "hist_explicit_bins_quantity" ->
      "6|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|5949563834582082595",
    "hist_range_acctbal" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|-10895508646576788929",
    "hist_multicol_acctbal" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,customer_cnt:bigint,supplier_cnt:bigint>|-15070417821659728644",
    "hist_samescan_lineitem" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,l_quantity_cnt:bigint,l_discount_cnt:bigint>|-13085885403060177002",
    "hist_singleton_constant" ->
      "1|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|4757134171264246027",
    "hist_nulls_value" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|2811781881823116832",
    "bin_labels_extendedprice" ->
      "10|struct<bin_id:int,bin_label:string,cnt:bigint>|-4641593149843394705",
    "density_points_value" ->
      "10|struct<bin_id:int,bin_center:double,cnt:bigint>|19569224624915081379",
    "hist_by_group_events" ->
      "50|struct<event_type:string,bin_id:int,cnt:bigint>|4065979507076919671",
    "hist_log_extendedprice" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|12871299475924136032",
    "hist_eqdepth_extendedprice" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|19131617272746366343",
    "hist_eqdepth_approx_extendedprice" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint>|-11557943958348403498",
    "hist_cdf_extendedprice" ->
      "10|struct<bin_id:int,bin_lo:double,bin_hi:double,cnt:bigint,cum_cnt:bigint,cdf:double>|-1827489433461039834")

  test("reference-core dist queries reproduce their pinned sf0.01 digests") {
    assume(testdataPresent)
    val got = pinned.map { case (name, _) => name -> digest(SparkEntry.queries(name)(spark, sfDir)) }
    val diffs = pinned.zip(got).collect { case ((name, want), (_, have)) if want != have =>
      s"$name: pinned $want, got $have" }
    assert(diffs.isEmpty, diffs.mkString("\n", "\n", ""))
  }
}
