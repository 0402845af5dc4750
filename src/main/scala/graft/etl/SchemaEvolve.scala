package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Q-SCHEMA-EVOLVE: schema-evolution reads — the lake capability every
  * long-lived table eventually needs: files written before a column
  * existed must stay readable next to files written after it was added,
  * with the missing column surfacing as NULL (exactly how the reference's
  * BigQuery tables handle `ALTER TABLE ADD COLUMN` over existing
  * storage; the reference itself pins a fixed schema, main.py:63-76, so
  * this is the extension face of that catalog).
  *
  * Fixture: the orders table staged as two write epochs —
  * epoch1 (even keys) with the ORIGINAL four-column schema, epoch2 (odd
  * keys) with an added `channel` column (deterministic key-derived
  * label). The union is read back with `mergeSchema=true`, which unions
  * parquet footers per file instead of trusting the first one (the
  * default reads ONE footer — fast, but silently drops epoch2's new
  * column if an epoch1 footer wins; the spec pins both behaviors).
  *
  * Scale shape: footer merging is a driver-side metadata pass over file
  * footers (at 100 TB: over the manifest's schema ids, not data);
  * the data scan itself stays columnar and pruned — rows from old files
  * materialize the added column as NULL without rewriting a byte of old
  * data. The aggregate's shuffle carries (channel, partials) only. The
  * oracle recomputes the same profile from the ORIGINAL parquet, so a
  * green row proves the two-epoch round trip lossless, the NULL
  * materialization correct, and the evolved column's derivation intact.
  */
object SchemaEvolve {

  private[graft] def channelExpr(key: org.apache.spark.sql.Column) =
    when(key % 3 === 0, "web").when(key % 3 === 1, "store").otherwise("app")

  def evolvePath(spark: SparkSession, sfDir: String): String = {
    val dir = Sink.scratchPath(sfDir, "orders_evolve")
    Scratch.once(dir) {
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      orders.filter(col("o_orderkey") % 2 === 0)
        .write.parquet(s"$dir/epoch1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("channel", channelExpr(col("o_orderkey")))
        .write.parquet(s"$dir/epoch2")
    }
  }

  /** The checked read: per-channel profile over the merged two-epoch
    * table; epoch1 rows surface the added column as NULL → 'legacy'.
    */
  def qEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = evolvePath(spark, sfDir)
    val merged = spark.read
      .option("mergeSchema", "true")
      .parquet(s"$dir/epoch1", s"$dir/epoch2")
    merged
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"),
        min(col("o_orderdate").cast("date")).as("min_day"),
        max(col("o_orderdate").cast("date")).as("max_day"))
      .orderBy("channel")
  }
}
