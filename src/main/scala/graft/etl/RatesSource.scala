package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Source S-FX (SURVEY.md §2.1): the currencylayer historical-rate scan.
  *
  * The reference issues one HTTP GET per day and extracts
  * `r.json()['quotes'][source]` from the response (reference
  * main.py:117-138), guarded by the `success` flag (main.py:132). The
  * fixture path builds one currencylayer-shaped JSON document per distinct
  * order date — with a rate that is a pure deterministic function of the
  * date, mirrored in the oracle SQL — then runs the *same extraction* the
  * reference does: a JSON-path get of `$.quotes.<pair>` (S-JSONGET) behind
  * a `success = true` gate (S-CHK).
  *
  * Output matches `schema_exchange_rate` (main.py:16-20):
  * `(date DATE, currencies STRING, rate DOUBLE)` — one row per (day, pair),
  * built to be joined to `fb_stat` on `date` (Q-JOIN-FX).
  *
  * Scale: distinct-date aggregation is one shuffle over a small key space
  * (days); the result is tiny (~2.5k rows for 7 years) and is the canonical
  * broadcast side of the FX join.
  */
object RatesSource {

  val Pair = "USDUAH"

  /** Deterministic per-date rate, exactly reproducible in ANSI SQL:
    * `20 + ((day*37 + month*11) % 100) / 100.0`. Integer arithmetic then a
    * single IEEE divide — bit-identical in Spark and DuckDB.
    */
  def rateFor(d: Column): Column =
    lit(20.0) + (dayofmonth(d) * 37 + month(d) * 11) % 100 / lit(100.0)

  /** currencylayer-shaped response documents, one per distinct order date:
    * `{"success":true,"historical":true,"date":"...","source":"USD",
    *   "quotes":{"USDUAH":<rate>}}`
    */
  def quotes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("d"))
      .distinct()
      .select(to_json(struct(
        lit(true).as("success"),
        lit(true).as("historical"),
        date_format(col("d"), "yyyy-MM-dd").as("date"),
        lit("USD").as("source"),
        struct(rateFor(col("d")).as(Pair)).as("quotes"))).as("payload"))

  /** Parse + extract: success gate (S-CHK), JSON-path quote extraction
    * (S-JSONGET), string→date/double casts (T-CAST), `currencies` concat
    * (T-CONCAT, reference main.py:113 `source = from + to`).
    *
    * Memoized + cached per (session, sfDir): four consumers (load, FX
    * join, gate, idempotence) would otherwise each re-run the
    * distinct-over-orders + JSON round trip; the result is the tiny
    * canonical broadcast dim (~one row per day), exactly what an engine
    * keeps hot.
    */
  def rates(spark: SparkSession, sfDir: String): DataFrame =
    ratesCache.getOrBuild(spark, sfDir, cache = true) {
      quotes(spark, sfDir)
        .filter(get_json_object(col("payload"), "$.success") === "true")
        .select(
          to_date(get_json_object(col("payload"), "$.date"), "yyyy-MM-dd").as("date"),
          concat(lit("USD"), lit("UAH")).as("currencies"),
          get_json_object(col("payload"), s"$$.quotes.$Pair").cast("double").as("rate"))
    }

  private val ratesCache = new graft.Memo("etl.rates")

  /** Response fixture WITH failures: dates whose day-of-month divides by 7
    * answer `success: false` with a currencylayer-shaped error object and
    * no quotes (reference main.py:142-143's rejecting branch — round 1
    * never pushed a rejecting document through the gate).
    */
  def quotesMixed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("d"))
      .distinct()
      .select(
        when(dayofmonth(col("d")) % 7 =!= 0,
          to_json(struct(
            lit(true).as("success"),
            lit(true).as("historical"),
            date_format(col("d"), "yyyy-MM-dd").as("date"),
            lit("USD").as("source"),
            struct(rateFor(col("d")).as(Pair)).as("quotes"))))
        .otherwise(
          to_json(struct(
            lit(false).as("success"),
            struct(lit(106L).as("code"),
              lit("historical rate not supported").as("info")).as("error"))))
        .as("payload"))

  /** S-CHK through both branches: how many documents pass / are rejected,
    * and the rate extraction running ONLY on passing documents (a wrong
    * gate would surface as a null-rate or a count mismatch).
    */
  def gateStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = quotesMixed(spark, sfDir)
      .select(col("payload"),
        (get_json_object(col("payload"), "$.success") === "true").as("ok"))
    docs.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_rejected"),
        sum(when(col("ok"),
          get_json_object(col("payload"), s"$$.quotes.$Pair").cast("double"))
          .otherwise(0d).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_ok_rate"),
        max(when(col("ok"), lit(null).cast("string"))
          .otherwise(get_json_object(col("payload"), "$.error.info"))).as("reject_info"))
  }
}
