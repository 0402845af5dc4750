package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Source S-FB (SURVEY.md §2.1): the Facebook Ads Insights scan.
  *
  * The reference pulls cursor-paged JSON rows from the Graph API
  * (reference main.py:159-181) — one row per (ad, day), all metrics as
  * strings, `actions`/`conversions` possibly absent, elements carrying
  * extra keys. With zero egress, the fixture path derives an
  * insights-shaped payload **deterministically** from the driver's
  * `lineitem`×`orders` tables (FIXTURES.md §B1), serializes each row to a
  * JSON document, and parses it back through `from_json` with the explicit
  * raw schema — so the load path exercises real JSON-source semantics
  * (string metrics, missing keys → null) exactly as a
  * `spark.read.schema(raw).json(path)` scan would, without file I/O.
  *
  * Every derivation rule here is mirrored 1:1 in the DuckDB oracle SQL
  * (SparkEntry.oracleSql), which recomputes expected outputs from the same
  * parquet tables. Only order-insensitive, exactly-reproducible arithmetic
  * is used (integer floor, string concat, no float rounding).
  *
  * Scale notes: the lineitem⋈orders join is a plain shuffle-on-key equi-join
  * that Catalyst/AQE handles (orders is ~1/4 of lineitem; at 100 TB both
  * sides are large → sort-merge join on the already co-partitioned orderkey;
  * at test SFs AQE broadcasts orders). Everything else is a narrow
  * projection — no extra shuffle.
  */
object FbInsightsSource {

  /** Insights-shaped columns derived from lineitem×orders. One insights row
    * per lineitem row: the ad is the (orderkey, linenumber) pair, the adset
    * is the supplier, the campaign is `partkey % 100`.
    */
  def built(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate")
    val j = li.join(o, li("l_orderkey") === o("o_orderkey"))

    val clicksL = floor(col("l_quantity")).cast("long")
    val dateS = date_format(col("o_orderdate"), "yyyy-MM-dd")

    j.select(
      dateS.as("date_start"),
      dateS.as("date_stop"),
      lit("101").as("account_id"),
      concat(lit("a-"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("ad_id"),
      concat(lit("ad "), col("l_orderkey"), lit("-"), col("l_linenumber")).as("ad_name"),
      concat(lit("s-"), col("l_suppkey")).as("adset_id"),
      concat(lit("adset "), col("l_suppkey")).as("adset_name"),
      concat(lit("c-"), col("l_partkey") % 100).as("campaign_id"),
      concat(lit("campaign "), col("l_partkey") % 100).as("campaign_name"),
      clicksL.cast("string").as("clicks"),
      (clicksL * 100 + col("l_linenumber")).cast("string").as("impressions"),
      col("l_extendedprice").cast("string").as("spend"),
      // actions present iff returnflag != 'N'; extra key `1d_view` must be
      // dropped by normalization (reference main.py:195-197)
      when(col("l_returnflag") =!= "N", array(
        struct(
          lit("link_click").as("action_type"),
          clicksL.cast("string").as("value"),
          lit("10").as("1d_view")),
        struct(
          lit("page_view").as("action_type"),
          col("l_linenumber").cast("string").as("value"),
          lit(null).cast("string").as("1d_view")))).as("actions"),
      // conversions present iff linestatus = 'F' (reference main.py:199-201)
      when(col("l_linestatus") === "F", array(
        struct(
          lit("purchase").as("action_type"),
          col("l_linenumber").cast("string").as("value")))).as("conversions"))
  }

  /** Day-partitioned JSONL spool of the insights payload — the storage the
    * DSv2 connector ([[graft.sources.FbInsightsDataSource]]) reads.
    * Written once per (sfDir, process), like fb_stat.
    */
  def jsonlPath(spark: SparkSession, sfDir: String): String = {
    val path = Sink.scratchPath(sfDir, "fb_jsonl")
    Scratch.once(path) {
      built(spark, sfDir)
        .select(to_json(struct(col("*"))).as("value"), col("date_start").as("date"))
        .repartition(col("date"))
        .write.mode("overwrite").partitionBy("date").text(path)
    }
  }

  /** Raw insights scan: serialize each built row to a JSON document and
    * parse it back under the explicit raw schema — null arrays become
    * *absent keys* in the JSON (to_json drops null fields), so the parsed
    * rows reproduce the Graph API's missing-field behavior faithfully.
    */
  def raw(spark: SparkSession, sfDir: String): DataFrame = {
    val payload = built(spark, sfDir)
      .select(to_json(struct(col("*"))).as("payload"))
    payload
      .select(from_json(col("payload"), Schemas.fbInsightsRaw).as("r"))
      .select(col("r.*"))
  }
}
