package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet fixture tables (TESTDATA.md).
  * All graft queries take `(spark, sfDir)` and resolve inputs here so the
  * same code runs at any scale factor.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")

  /** `events.ts` has shipped in two fixture vintages: parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader only yields as a
    * raw int64 via the legacy conf) and native TIMESTAMP(MICROS). Read
    * the file as-is (the conf is a no-op on µs data) and let callers
    * normalize with the schema-keyed helpers below, so either vintage
    * produces identical query results.
    */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    Session.in(spark, load(rawReader(spark), sfDir, "events"))

  /** A streaming scan of raw events files under `dir` (the fixture, byte
    * copies of it, or files staged from [[eventsRaw]]) with `rawSchema`.
    */
  def eventsRawStream(spark: SparkSession, rawSchema: StructType, dir: String,
      options: (String, String)*): DataFrame =
    Session.in(spark, rawReader(spark).readStream.schema(rawSchema)
      .options(options.toMap).parquet(dir))

  /** The session raw events files are read through: a child with the
    * legacy nanos-as-long conf. A file scan reads with the conf of the
    * session that created it, so frames read here keep reading nanos
    * as int64 after they are rebound to the caller, whose own conf is
    * never written.
    */
  private def rawReader(spark: SparkSession): SparkSession =
    Session.pinned(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** SQL expr turning the raw `ts` into epoch MICROSECONDS as a long.
    * Nanos-vintage fixtures convert with *integer* division (`div`) — a
    * double division would lose precision above 2^53 ns (~104 days of
    * epoch-nanos); DuckDB's ns→µs cast truncates the same way. The
    * TIMESTAMP_NTZ vintage (parquet µs without isAdjustedToUTC) is cast
    * through TIMESTAMP first — `unix_micros` rejects NTZ — which is
    * value-exact under the UTC session timezone every entrypoint pins.
    */
  def tsMicrosExpr(schema: StructType): String =
    schema("ts").dataType match {
      case LongType          => "ts div 1000"
      case TimestampNTZType  => "unix_micros(cast(ts as timestamp))"
      case _                 => "unix_micros(ts)"
    }

  /** SQL expr turning the raw `ts` into a TimestampType column (NTZ is
    * cast — watermarks and `unix_micros` require TIMESTAMP, and the
    * UTC session timezone makes the cast value-exact).
    */
  def tsTimestampExpr(schema: StructType): String =
    schema("ts").dataType match {
      case LongType      => "timestamp_micros(ts div 1000)"
      case TimestampType => "ts"
      case _             => "cast(ts as timestamp)"
    }

  /** A `ts` literal at epoch-micros `us`, typed to match the raw schema
    * (long nanos / NTZ / timestamp by vintage) — for staging sentinel
    * rows next to raw fixture copies.
    */
  def tsLit(schema: StructType, us: Long): Column =
    schema("ts").dataType match {
      case LongType          => org.apache.spark.sql.functions.lit(us * 1000L)
      case TimestampNTZType  => org.apache.spark.sql.functions.expr(
                                  s"cast(timestamp_micros(${us}L) as timestamp_ntz)")
      case _                 => org.apache.spark.sql.functions.timestamp_micros(
                                  org.apache.spark.sql.functions.lit(us))
    }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = eventsRaw(spark, sfDir)
    raw.withColumn("ts", org.apache.spark.sql.functions.expr(tsTimestampExpr(raw.schema)))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
