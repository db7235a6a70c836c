package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** Order-free output digests: row count, schema string and the sum of a
  * 64-bit xxhash per row, so a digest does not depend on row order or
  * partitioning. */
object Digest {
  def hash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Digest of rows already collected to the driver. */
  def rows(schema: StructType, rs: Array[Row]): String =
    s"${rs.length}|${schema.simpleString}|${rs.iterator.map(r => BigInt(hash(r.toString))).sum}"

  /** The one-row aggregate behind [[inCluster]], for results too large to
    * collect; the caller times planning and running it as separate phases. */
  def frame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum("h"))

  def fromFrame(result: DataFrame, r: Row): String = {
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    s"${r.getLong(0)}|${result.schema.simpleString}|$s"
  }

  def inCluster(df: DataFrame): String = fromFrame(df, frame(df).head())

  def svg(s: String): String = s"svg|${s.length}|${hash(s)}"
}
