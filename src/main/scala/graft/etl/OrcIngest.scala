package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Q-LOAD-ORC: the columnar-interchange half of the load surface (CSV
  * covers delimited text, the connector's spool covers JSON lines). ORC
  * ships in Spark's own jars, so an engine claiming "bring your lake
  * files" must read it with the same contract as parquet: schema from the
  * file footer, predicate pushdown reaching the scan, lossless types.
  *
  * The fixture's `orders` table is staged to ORC once per process (in
  * scratch, like the CSV staging); the checked load filters on
  * `o_totalprice` — a pushdown-able predicate the spec asserts lands in
  * the ORC scan's `PushedFilters` — and aggregates per status. The oracle
  * recomputes from the ORIGINAL parquet, so a green row proves the ORC
  * write→read round-trip (longs, doubles, timestamps) is lossless.
  */
object OrcIngest {

  /** Pushdown filter bound: high enough to prune, low enough that every
    * status group survives at sf0.001.
    */
  val PriceFloor = 150000.0

  def orcPath(spark: SparkSession, sfDir: String): String = {
    val dir = Sink.scratchPath(sfDir, "orders_orc")
    Scratch.once(dir) {
      Tables.orders(spark, sfDir).repartition(4)
        .write.mode("overwrite").orc(dir)
    }
  }

  def qOrc(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.orc(orcPath(spark, sfDir))
      .filter(col("o_totalprice") >= lit(PriceFloor))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"),
        max(col("o_orderdate").cast("date")).as("max_day"))
      .orderBy("o_orderstatus")
}
