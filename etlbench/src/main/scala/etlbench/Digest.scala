package etlbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An op's output reduced in-cluster to a row count plus an
  * order-insensitive digest over every column.
  *
  * Each row hashes (xxhash64) over all of its columns, so Catalyst cannot
  * prune any of them the way it would for a bare `count()`. The 64-bit row
  * hashes are summed as two 32-bit halves (exact long sums, no ANSI
  * overflow below 2^31 rows), and a sum does not depend on row order.
  * Decimals and integers hash exactly. Doubles and floats hash with their
  * mantissa rounded to [[MantissaBits]] bits (a relative step of about
  * 1e-12) and -0.0 folded into 0.0: a last-bit difference from summation
  * order does not count as a wrong answer, a cent on a million does.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  val MantissaBits = 40
  private val Dropped = 52 - MantissaBits

  /** A double's bits, -0.0 and NaN made canonical, rounded to nearest at
    * [[MantissaBits]] mantissa bits (a carry moves into the exponent).
    */
  def quantize(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    (bits + (1L << (Dropped - 1))) & ~((1L << Dropped) - 1)
  }

  private val quantizeUdf = udf((d: Double) => quantize(d))

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => quantizeUdf(c.cast(DoubleType))
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fs) if needsNorm(dt) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*))
    case _ => c
  }

  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.map(f =>
      norm(df.col("`" + f.name.replace("`", "``") + "`"), f.dataType)).toSeq: _*)

  def of(df: DataFrame): Result = {
    val h = df.select(rowHash(df).as("h"))
    val r = h.agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    Result(r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }
}
