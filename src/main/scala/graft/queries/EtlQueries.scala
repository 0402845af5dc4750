package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.{FbInsightsSource, Normalize, RatesSource, Schemas, Scratch, Sink}

/** Reference-faithful flagship queries (SURVEY.md §2.6, Q-*).
  *
  * Determinism rules shared with the DuckDB oracle SQL in SparkEntry:
  *  - every output has an explicit ORDER BY;
  *  - integer aggregates stay integer (exact);
  *  - money sums go through DECIMAL(18,2) (exact, order-insensitive) and
  *    are cast back to double only at the end;
  *  - per-row double products (spend*rate) are identical IEEE ops on both
  *    engines — no rounding needed;
  *  - computed integers are cast to BIGINT on both sides so parquet/duckdb
  *    schemas align.
  */
object EtlQueries {

  /** Normalized fb_stat DataFrame — the Q-LOAD-FB pipeline core. */
  def fbStat(spark: SparkSession, sfDir: String): DataFrame =
    Normalize(FbInsightsSource.raw(spark, sfDir))

  /** The materialized `fb_stat` TABLE — the reference's architecture:
    * the load pipeline appends into a day-partitioned, clustered BigQuery
    * table (main.py:219-221) and every downstream query reads the table,
    * not the API. Written once per (sfDir, layout version) by the full
    * load pipeline; downstream queries then get partition pruning +
    * clustered row-group skipping from the parquet layout for free.
    */
  private val tableCache = new graft.Memo("etl.fb_stat")

  def fbStatTable(spark: SparkSession, sfDir: String): DataFrame =
    // Memoized per (session, sfDir) so every consumer shares ONE DataFrame
    // instance (and therefore one cache entry — a freshly built plan would
    // be a distinct cache key).
    tableCache.getOrBuild(spark, sfDir, cache = true) {
      val path = Sink.scratchPath(sfDir, "fb_stat")
      // the reference load path (main.py:219-221): namespace-if-missing
      // (K-DS), then an APPEND that creates the partitioned+clustered
      // layout on first write (K-TBL + K-INS); a failed load leaves no
      // directory, so a retry's append can't double
      Scratch.once(path) {
        Sink.appendPartitioned(fbStat(spark, sfDir), path)
      }
      // K-TBL's catalog half (reference main.py:63-76 `create_table`): the
      // table is REGISTERED once and consumers query the table, not the
      // path. Its files and `date=` partitions come from the sink's commit
      // log (`_spark_metadata`, see Sink), so the ~2.4k day directories
      // are never listed and no partition repair is needed; the catalog
      // schema spares every reader the schema inference.
      // A table of that name registered elsewhere (a persistent catalog
      // remembers the scratch root of a run that is gone) is replaced:
      // only this run's path holds this run's rows.
      val tbl = fbStatTableName(sfDir)
      registerLock.synchronized {
        if (!(spark.catalog.tableExists(tbl) && tableLocation(spark, tbl) == localPath(path))) {
          val cols = Schemas.fbStat.fields
            .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.sql(s"CREATE TABLE $tbl ($cols) USING parquet " +
            s"PARTITIONED BY (${Schemas.partitionCol}) LOCATION '$path'")
        }
      }
      // Cache the scan: nine downstream queries read this table. At 100 TB
      // the catalog index + partition pruning is the durable win and the
      // cache simply holds the working set (storage memory, LRU-evicted if
      // it doesn't fit); at bench scale it removes the repeated tiny-file
      // re-scan entirely.
      spark.table(tbl)
    }

  /** The catalog name of `sfDir`'s fb_stat table. Sanitization is lossy
    * ("sf0.1" and "sf0_1" collide), so the raw path's hash is appended and
    * distinct sfDirs never share a table.
    */
  private[graft] def fbStatTableName(sfDir: String): String =
    "fb_stat_" + sfDir.replaceAll("[^A-Za-z0-9_]", "_") +
      "_" + java.lang.Integer.toHexString(sfDir.hashCode)

  /** Serializes the check-then-replace of a catalog registration across
    * the sessions of this JVM, which share one catalog.
    */
  private val registerLock = new Object

  private def localPath(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def tableLocation(spark: SparkSession, tbl: String): String =
    spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .collectFirst { case r if r.getString(0) == "Location" => localPath(r.getString(1)) }
      .getOrElse("")

  private def decSum(c: String) =
    sum(col(c).cast(DecimalType(18, 2))).cast("double")

  /** Flat, oracle-comparable view of fb_stat (arrays → size + first-element
    * probes so the nested normalization is value-checked through SQL).
    */
  private def flatten(fb: DataFrame): DataFrame =
    fb.select(
      col("date"), col("ad_id"), col("ad_name"), col("adset_id"),
      col("adset_name"), col("campaign_id"), col("campaign_name"),
      col("clicks"), col("impressions"), col("spend"),
      size(col("actions")).cast("long").as("n_actions"),
      size(col("conversions")).cast("long").as("n_conversions"),
      try_element_at(col("actions"), lit(1)).getField("action_type").as("first_action_type"),
      try_element_at(col("actions"), lit(1)).getField("value").as("first_action_value"),
      try_element_at(col("conversions"), lit(1)).getField("value").as("first_conv_value"))

  /** Q-LOAD-FB: raw JSON insights → normalize (T-PROJ/T-NEST/T-MISS/T-CAST). */
  def qLoadFb(spark: SparkSession, sfDir: String): DataFrame =
    // no output-side orderBy on corpus-sized loads: the correctness gates
    // sort rows themselves, and at 100 TB a final global sort is a pure
    // -waste exchange on the write path (applies to every 60k-row load
    // below)
    flatten(fbStat(spark, sfDir))

  /** Q-LOAD-FX: quotes JSON → exchange_rate (S-JSONGET, S-CHK, T-ROW). */
  def qLoadFx(spark: SparkSession, sfDir: String): DataFrame =
    RatesSource.rates(spark, sfDir).orderBy("date")

  /** Q-JOIN-FX: spend currency conversion — the downstream query the two
    * reference tables exist for (README.md:18-20). Broadcast hash join on
    * `date` (rates is tiny at any scale: one row per day per pair).
    */
  def qJoinFx(spark: SparkSession, sfDir: String): DataFrame = {
    val fb = fbStatTable(spark, sfDir)
    val rates = RatesSource.rates(spark, sfDir)
    fb.join(broadcast(rates), Seq("date"))
      .select(
        col("date"), col("ad_id"), col("campaign_id"),
        col("spend"), col("rate"),
        (col("spend") * col("rate")).as("spend_uah"))
  }

  /** Q-JOIN-FX-ASOF: the AS-OF join the FX pipeline actually needs when
    * the provider rejects days (S-CHK's failing branch,
    * main.py:142-143): spend converts at the LATEST rate at-or-before
    * the spend date. Spark has no native as-of operator; against a DAILY
    * dim the scale-safe plan is to forward-fill the (tiny) date
    * dimension once — a window over ~2.4k rows, deliberately
    * single-partition because it is dim-side work — and then equi-join,
    * which broadcasts. The fact table never sorts, never range-joins.
    * Carried-forward days are counted per month; sums run in exact
    * DECIMAL (spend 2dp × rate 2dp products are exact).
    */
  def qJoinFxAsof(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // gappy rates: only days the gate passed (day-of-month % 7 != 0)
    val gappy = RatesSource.rates(spark, sfDir)
      .filter(dayofmonth(col("date")) % 7 =!= 0)
      .select(col("date"), col("rate"))
    val days = RatesSource.rates(spark, sfDir).select(col("date"))
    val w = Window.orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = days.join(gappy, Seq("date"), "left")
      .withColumn("rate_asof", last("rate", ignoreNulls = true).over(w))
      .withColumn("carried", col("rate").isNull && col("rate_asof").isNotNull)
      .filter(col("rate_asof").isNotNull)
      .select(col("date"), col("rate_asof"), col("carried"))
    fbStatTable(spark, sfDir)
      .join(broadcast(filled), Seq("date"))
      .groupBy(date_format(col("date"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("carried"), 1L).otherwise(0L)).as("n_carried"),
        sum(col("spend").cast(DecimalType(18, 2))
          * col("rate_asof").cast(DecimalType(18, 2))).cast("double").as("spend_uah"))
      .orderBy("month")
  }

  /** Max forward-fill distance for [[qJoinFxAsofTol]] — one day. The
    * fixture's widened gaps (two consecutive rejected days) make both
    * branches real: the first gap day converts at yesterday's rate
    * (carried), the second is BEYOND tolerance and must surface as
    * unconverted rather than silently use a two-day-old rate.
    */
  val AsofToleranceDays = 1

  /** Q-JOIN-FX-ASOF-TOL: as-of join with a STALENESS BOUND — the
    * `merge_asof(..., tolerance=...)` semantics every FX/compliance
    * pipeline actually wants: converting at an arbitrarily old rate is a
    * correctness bug, not a convenience. Same scale shape as
    * [[qJoinFxAsof]] (forward-fill the tiny date dim once, dim-side
    * window, broadcast equi-join — the fact never sorts); the fill
    * additionally tracks the SOURCE date of the carried rate, and
    * `datediff > tolerance` voids the conversion. Stale/unpriced spend is
    * counted and summed separately — it must stay visible, not vanish.
    */
  def qJoinFxAsofTol(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // wider gaps than qJoinFxAsof: TWO consecutive rejected days per
    // cycle, so staleness reaches 2 and the tolerance actually bites
    val gappy = RatesSource.rates(spark, sfDir)
      .filter(!(dayofmonth(col("date")) % 7).isin(0, 1))
      .select(col("date"), col("rate"))
    val days = RatesSource.rates(spark, sfDir).select(col("date"))
    val w = Window.orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = days.join(gappy, Seq("date"), "left")
      .withColumn("rate_asof", last("rate", ignoreNulls = true).over(w))
      .withColumn("rate_date",
        last(when(col("rate").isNotNull, col("date")), ignoreNulls = true).over(w))
      .withColumn("staleness", datediff(col("date"), col("rate_date")))
      .select(col("date"), col("rate_asof"), col("staleness"))
    val ok = col("rate_asof").isNotNull && col("staleness") <= AsofToleranceDays
    fbStatTable(spark, sfDir)
      .join(broadcast(filled), Seq("date"))
      .groupBy(date_format(col("date"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(ok && col("staleness") >= 1, 1L).otherwise(0L)).as("n_carried"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_stale"),
        sum(when(ok, col("spend").cast(DecimalType(18, 2))
          * col("rate_asof").cast(DecimalType(18, 2))).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("spend_uah"),
        sum(when(!ok, col("spend").cast(DecimalType(18, 2)))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double").as("unpriced_spend"))
      .orderBy("month")
  }

  /** Q-UNNEST: per-action_type totals — the BigQuery `UNNEST(actions)`
    * pattern the REPEATED RECORD layout was designed for (main.py:33-38).
    * `explode_outer` keeps empty-array rows as a NULL action group.
    */
  def qUnnest(spark: SparkSession, sfDir: String): DataFrame =
    fbStatTable(spark, sfDir)
      .select(explode_outer(col("actions")).as("a"))
      .groupBy(col("a.action_type").as("action_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("a.value").cast("long")).as("total_value"))
      .orderBy(asc_nulls_first("action_type"))

  /** Q-ROAS: the return-on-ad-spend report the reference's BigQuery
    * consumer ultimately builds from BOTH loaded tables — insights spend
    * FX-converted (the S-FX join) against the nested `conversions`
    * value (T-NEST), per campaign. All money math is exact: spend(2dp) ×
    * rate(2dp) products are DECIMAL scale-4, the conversion value a
    * BIGINT array fold, and cost-per-conversion-value integer units of
    * 10⁻⁴ UAH (spend×10⁴ is an exact integer at scale 4). One broadcast
    * dim join + one campaign hash agg — the fact never sorts or
    * re-shuffles beyond the group-by.
    */
  def qRoas(spark: SparkSession, sfDir: String): DataFrame = {
    val fb = fbStatTable(spark, sfDir)
    val rates = RatesSource.rates(spark, sfDir)
    fb.join(broadcast(rates), Seq("date"))
      .select(col("campaign_id"),
        (col("spend").cast(DecimalType(18, 2)) * col("rate").cast(DecimalType(18, 2)))
          .as("spend_uah"),
        expr("aggregate(conversions, CAST(0 AS BIGINT), (a, x) -> a + CAST(x.value AS BIGINT))")
          .as("conv_value"),
        size(col("conversions")).cast("long").as("n_conv"))
      .groupBy("campaign_id")
      .agg(
        sum("spend_uah").cast("double").as("spend_uah"),
        sum("conv_value").as("conv_value"),
        sum("n_conv").as("n_conversions"),
        expr("CAST(sum(spend_uah) * 10000 AS BIGINT) div nullif(sum(conv_value), 0)")
          .as("cost_per_value_e4"))
      .orderBy("campaign_id")
  }

  /** Q-DAILY: campaign daily rollup — the aggregation the reference pushes
    * to the API (`level='ad'`, `time_increment=1`, main.py:175-181) lifted
    * one tier to campaign level. Partial+final hash agg, one shuffle.
    */
  def qDaily(spark: SparkSession, sfDir: String): DataFrame =
    fbStatTable(spark, sfDir)
      .groupBy("date", "campaign_id", "campaign_name")
      .agg(
        sum("clicks").as("clicks"),
        sum("impressions").as("impressions"),
        decSum("spend").as("spend"))

  /** Q-SQL: the same daily rollup through the `spark.sql` surface — the
    * engine's third API face (DataFrame, Dataset[FbAdStat], SQL) over the
    * SAME registered catalog table, planned by the same Catalyst pipeline
    * into the same physical aggregate. A user of the reference writes
    * BigQuery SQL; this is where that SQL lands here.
    */
  def qSql(spark: SparkSession, sfDir: String): DataFrame = {
    fbStatTable(spark, sfDir).createOrReplaceTempView("fb_stat_v")
    spark.sql(
      """SELECT date, campaign_id, campaign_name,
        |       sum(clicks) AS clicks,
        |       sum(impressions) AS impressions,
        |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM fb_stat_v
        |GROUP BY date, campaign_id, campaign_name""".stripMargin)
  }

  /** Q-TOPK: top-10 campaigns by lifetime spend (sort + limit; TakeOrdered). */
  def qTopK(spark: SparkSession, sfDir: String): DataFrame =
    fbStatTable(spark, sfDir)
      .groupBy("campaign_id")
      .agg(decSum("spend").as("total_spend"), sum("clicks").as("total_clicks"))
      .orderBy(desc("total_spend"), asc("campaign_id"))
      .limit(10)

  /** Q-WINDOW: per-day campaign ranking (ranking window function). */
  def qWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = fbStatTable(spark, sfDir)
      .groupBy("date", "campaign_id")
      .agg(decSum("spend").as("spend"))
    val w = Window.partitionBy("date").orderBy(desc("spend"), asc("campaign_id"))
    daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
  }

  /** Q-WINDOW semantics through the custom TopKPerKey whole-operator
    * (graft.plans): partial bounded heaps → shuffle-k-per-key → final
    * heaps + rank. Same oracle as the window formulation — proving the
    * custom physical operator against DuckDB.
    */
  def qWindowNative(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = fbStatTable(spark, sfDir)
      .groupBy("date", "campaign_id")
      .agg(decSum("spend").as("spend"))
    graft.plans.TopKPerKey(daily,
        keys = Seq("date"),
        order = Seq(("spend", true), ("campaign_id", false)), k = 3)
      .select(col("date"), col("campaign_id"), col("spend"), col("rank").as("rn"))
  }

  /** Q-ROLLUP: hierarchical rollup (campaign within month, subtotals +
    * grand total) — the multi-dimensional aggregation surface
    * (ROLLUP/GROUPING SETS). grouping_id disambiguates subtotal rows;
    * null keys from rollup are coalesced to sentinels so ordering is
    * deterministic on both engines.
    */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame =
    fbStatTable(spark, sfDir)
      .select(date_format(col("date"), "yyyy-MM").as("month"),
        col("campaign_id"), col("clicks"), col("spend"))
      .rollup("month", "campaign_id")
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum("clicks").as("clicks"),
        decSum("spend").as("spend"))
      .select(
        coalesce(col("month"), lit("ALL")).as("month"),
        coalesce(col("campaign_id"), lit("ALL")).as("campaign_id"),
        col("gid"), col("n"), col("clicks"), col("spend"))

  /** Q-PRUNE: write fb_stat day-partitioned + clustered (K-TBL layout),
    * then read back a single day — Catalyst partition pruning must touch
    * one partition. Overwrite (not append) so the scratch table's content
    * is deterministic per run; append fidelity is Q-IDEM's job.
    */
  def qPrune(spark: SparkSession, sfDir: String): DataFrame = {
    fbStatTable(spark, sfDir) // ensure the table is written + registered
    // partition values ARE table metadata — read min(date) from the
    // partition directory names, no data scan (what a catalog would serve)
    val root = new java.io.File(Sink.scratchPath(sfDir, "fb_stat"))
    val minDate = root.list().filter(_.startsWith("date=")).map(_.substring(5)).min
    // deliberately a PATH scan, not the cached table: this query asserts
    // the parquet LAYOUT prunes (PartitionFilters reaching the file scan)
    // — the cached-table fast path would hide it. The DataFrame (and so
    // its file index, read from the sink's commit log rather than by
    // listing the ~2.4k day directories) is memoized per session.
    val tbl = pruneScanCache.getOrBuild(spark, sfDir) {
      spark.read.parquet(Sink.scratchPath(sfDir, "fb_stat"))
    }
    flatten(tbl.filter(col("date") === to_date(lit(minDate)))).orderBy("ad_id")
  }

  private val pruneScanCache = new graft.Memo("etl.prune_scan")

  /** Q-DSV2: the real-connector path (SURVEY.md §2.1 S-FB stretch goal) —
    * scan insights JSONL through the DataSourceV2 connector with a pushed
    * 30-day date-range predicate (prunes day-partitions inside the
    * connector, like the API's `time_range`) and pruned columns (like the
    * API's `fields` list), then aggregate per day.
    */
  def qDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    val path = FbInsightsSource.jsonlPath(spark, sfDir)
    val start = new java.io.File(path).list()
      .filter(_.startsWith("date=")).map(_.substring(5)).min
    val end = java.time.LocalDate.parse(start).plusDays(29).toString
    spark.read
      .format(classOf[graft.sources.FbInsightsDataSource].getName)
      .option("path", path).load()
      .filter(col("date_start") >= start && col("date_start") <= end)
      .groupBy("date_start")
      .agg(
        count(lit(1)).as("n"),
        sum(col("clicks").cast("long")).as("clicks"),
        decSum("spend").as("spend"))
      .select(to_date(col("date_start")).as("date"), col("n"), col("clicks"), col("spend"))
      .orderBy("date")
  }

  /** Q-SINK-DSV2: the connector WRITE path (K-INS as a real DSv2 sink,
    * reference main.py:81-91 `insert_rows_json` + DDL main.py:44-78).
    * The raw insights rows are appended THROUGH the connector's batch
    * write (task temp spool → driver commit move), read back through the
    * same connector, and normalized — hash-matching the q_load_fb oracle
    * proves the write→read round trip is lossless.
    */
  def qSinkDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Sink.scratchPath(sfDir, "fb_sink_dsv2")
    Scratch.once(path) {
      // repartition on the partition key first (same discipline as
      // Sink.appendPartitioned): each writer task then spools ~one day,
      // one open file — not every task holding a file per day
      FbInsightsSource.raw(spark, sfDir)
        .repartition(col("date_start"))
        .write.format(classOf[graft.sources.FbInsightsDataSource].getName)
        .option("path", path).mode("append").save()
    }
    val back = spark.read
      .format(classOf[graft.sources.FbInsightsDataSource].getName)
      .option("path", path).load()
    flatten(Normalize(back))
  }

  /** Q-DSV2-SQL: the connector driven through SQL DDL ALONE — the catalog
    * half of the reference's BigQuery mapping (`CREATE TABLE`,
    * main.py:63-76; `insert_rows_json`, main.py:81-91; queries read the
    * table). A [[graft.sources.FbInsightsCatalog]] registered as `fbins`
    * resolves `fbins.db.fb_sql` to a connector table; CREATE TABLE,
    * INSERT INTO, and the read-back SELECT are all `spark.sql` — no
    * `spark.read.format` anywhere on the path. The round trip must equal
    * the batch load byte-for-byte (q_load_fb's oracle), proving the SQL
    * face and the DataFrame face hit the same write/read machinery.
    */
  /** Register the per-sfDir catalog + build-once `db.fb_sql` table;
    * returns the catalog name. Catalog name is per-sfDir: Spark's
    * CatalogManager caches the catalog INSTANCE on first resolution, so
    * re-pointing a shared `fbins.warehouse` conf for a second sfDir
    * would silently keep the first warehouse (wrong-table reads behind
    * a built table). A distinct name per sfDir keys the cache
    * correctly.
    */
  private def ensureFbSqlTable(spark: SparkSession, sfDir: String): String = {
    val wh = Sink.scratchPath(sfDir, "fbins_warehouse")
    val cat = "fbins_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.FbInsightsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    Scratch.once(wh) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.db.fb_sql")
      spark.sql(
        s"CREATE TABLE $cat.db.fb_sql (${Schemas.fbInsightsRaw.toDDL}) USING fbinsights")
      FbInsightsSource.raw(spark, sfDir).createOrReplaceTempView("fb_raw_src")
      spark.sql(s"INSERT INTO $cat.db.fb_sql SELECT * FROM fb_raw_src")
    }
    cat
  }

  def qDsv2Sql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureFbSqlTable(spark, sfDir)
    flatten(Normalize(spark.sql(s"SELECT * FROM $cat.db.fb_sql")))
  }

  /** Q-DSV2-FN: a V2 CATALOG FUNCTION called from plain SQL —
    * `<catalog>.db.poly_hash31(campaign_id, 131)` resolves through the
    * connector's `FunctionCatalog` face, binds to a typed
    * `ScalarFunction` whose magic `invoke(UTF8String, long)` compiles
    * into whole-stage codegen, and is value-identical to the
    * [[graft.functions.PolyHash]] expression — so the oracle mirrors it
    * with the same SQL poly-hash fold. This is how a warehouse ships
    * engine-side kernels to SQL-only users: through the catalog, not a
    * per-session UDF registry. One partial+final agg on campaign.
    */
  def qDsv2Fn(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureFbSqlTable(spark, sfDir)
    spark.sql(
      s"""SELECT campaign_id, $cat.db.poly_hash31(campaign_id, 131) AS h,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM $cat.db.fb_sql GROUP BY campaign_id ORDER BY campaign_id""".stripMargin)
  }

  /** Q-DSV2-AGGFN: a V2 AGGREGATE function resolved through the
    * connector catalog — the mergeable-state sibling of [[qDsv2Fn]]'s
    * scalar face: `sum_cents(spend)` keeps one Long of state, `merge`
    * is addition, so the engine runs it as a partial aggregate with
    * map-side combine (the shuffle carries one counter per campaign per
    * map partition, the 100 TB contract). Exact: each double rounds to
    * DECIMAL(18,2) cents before summing, value-identical to the
    * oracle's cast chain.
    */
  def qDsv2AggFn(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureFbSqlTable(spark, sfDir)
    spark.sql(
      s"""SELECT campaign_id,
         |       $cat.db.sum_cents(CAST(spend AS DOUBLE)) AS spend_cents,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM $cat.db.fb_sql GROUP BY campaign_id ORDER BY campaign_id""".stripMargin)
  }

  /** Q-STREAM-LOAD: the flagship load pipeline as a STREAM — the shape the
    * reference's per-day triggered batches (README.md Pub/Sub cadence)
    * take when the spool is continuous: `readStream` over the JSONL
    * landing zone → the SAME Normalize transform → append into a parquet
    * file sink; executors write, the driver tracks only the sink
    * manifest. Reading the sink back and flattening hash-matches the
    * q_load_fb oracle — proving batch and streaming load paths are
    * byte-identical. No watermark needed: the pipeline is stateless
    * row-at-a-time (no aggregation), so append mode emits immediately.
    */
  /** Q-STREAM-DSV2: the streaming LOAD through the connector's own
    * MICRO_BATCH_READ path — day-partitions admitted a capped number per
    * micro-batch (the connector's maxFilesPerTrigger), drained once into
    * the sink (built once per process).
    * Result must equal the batch load byte-for-byte → q_load_fb's oracle.
    */
  def qStreamDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Sink.scratchPath(sfDir, "fb_stream_dsv2")
    val outDir = s"$path/out"
    Scratch.once(path) {
      val src = FbInsightsSource.jsonlPath(spark, sfDir)
      val stream = spark.readStream
        .format(classOf[graft.sources.FbInsightsDataSource].getName)
        .option("path", src)
        .option("maxDaysPerBatch", 500)
        .load()
      graft.streaming.Drain.run(Normalize(stream), outDir, s"$path/ckpt")
    }
    flatten(spark.read.parquet(outDir))
  }

  /** Q-STREAM-SINK: the connector streaming on BOTH ends — micro-batch
    * READ from the landing zone (day-index offsets, capped admission)
    * into the connector's STREAMING_WRITE sink (per-epoch all-or-nothing
    * commits through the same task-spool → driver-move protocol as the
    * batch write). This is the reference's daily load re-expressed as a
    * continuously-running streaming ETL; the round-tripped table must
    * still equal the batch load byte-for-byte (q_load_fb's oracle).
    */
  def qStreamSink(spark: SparkSession, sfDir: String): DataFrame = {
    val fmt = classOf[graft.sources.FbInsightsDataSource].getName
    val path = Sink.scratchPath(sfDir, "fb_stream_sink")
    val dstTable = s"$path/table"
    Scratch.once(path) {
      val src = FbInsightsSource.jsonlPath(spark, sfDir)
      val stream = spark.readStream.format(fmt)
        .option("path", src)
        .option("maxDaysPerBatch", 500)
        .load()
      val q = stream.writeStream.format(fmt)
        .option("path", dstTable)
        .option("checkpointLocation", s"$path/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally graft.streaming.Drain.stop(q, None)
    }
    val back = spark.read.format(fmt).option("path", dstTable).load()
    flatten(Normalize(back))
  }

  def qStreamLoad(spark: SparkSession, sfDir: String): DataFrame = {
    // LOAD-stage semantics, like fb_stat: the stream drains the landing
    // zone into the sink ONCE per process; queries read the sink.
    val path = Sink.scratchPath(sfDir, "fb_stream_load")
    val outDir = s"$path/out"
    Scratch.once(path) {
      val src = FbInsightsSource.jsonlPath(spark, sfDir)
      val parsed = spark.readStream.text(s"$src/date=*")
        .select(from_json(col("value"), Schemas.fbInsightsRaw).as("r"))
        .select(col("r.*"))
      graft.streaming.Drain.run(Normalize(parsed), outDir, s"$path/ckpt")
    }
    flatten(spark.read.parquet(outDir))
  }

  /** Q-DSV2-AGG: pushed aggregation — the reference asks the API for
    * pre-aggregated rows (`level='ad'`, `time_increment=1`,
    * main.py:175-181); here the count-per-day group-by is answered inside
    * the connector from line counts, with the 30-day range also pruning
    * partitions. The plan carries NO Spark-side aggregate (complete
    * pushdown: day-partitions hold disjoint groups).
    */
  def qDsv2Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val path = FbInsightsSource.jsonlPath(spark, sfDir)
    val start = new java.io.File(path).list()
      .filter(_.startsWith("date=")).map(_.substring(5)).min
    val end = java.time.LocalDate.parse(start).plusDays(29).toString
    spark.read
      .format(classOf[graft.sources.FbInsightsDataSource].getName)
      .option("path", path).load()
      .filter(col("date_start") >= start && col("date_start") <= end)
      .groupBy("date_start")
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("date_start")).as("date"), col("n"))
      .orderBy("date")
  }

  /** Q-COMPACT: small-file compaction — the table-maintenance operator
    * the reference's architecture eventually forces (per-day triggered
    * appends, README.md Pub/Sub cadence, make one tiny file per day per
    * writer; BigQuery auto-compacts behind the scenes — an open-format
    * lake must do it itself). The day-partitioned fb_stat layout
    * (~2.4k one-file days at sf0.1) is rewritten into a MONTH-partitioned
    * layout sized to a TARGET FILE SIZE: the shuffle partition count is
    * `input bytes / target` (`Sink.sizedPartitions`), range-partitioned
    * on (month, date, ad_id) so each task writes one contiguous slice —
    * at sf0.1 that is ~80 month files (~30× fewer, spec-asserted); at
    * 100 TB the SAME formula yields thousands of ~128 MB files instead
    * of one file per month (a month of a 100 TB table does not fit one
    * writer). The scan-side win is the same either way: file-open and
    * listing overhead drops by the compaction ratio. The oracle proves
    * compaction is lossless: the per-month rollup of the compacted table
    * equals the source's. File sizes landing near the target is
    * spec-asserted at two scale factors via [[compactSized]].
    */
  def qCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val dst = compactSized(spark, sfDir, Sink.TargetFileBytes, "fb_stat_monthly")
    compactScanCache.getOrBuild(spark, sfDir) { spark.read.parquet(dst) }
      .groupBy("month")
      .agg(
        count(lit(1)).as("n"),
        sum("clicks").as("clicks"),
        decSum("spend").as("spend"))
      .orderBy("month")
  }

  /** Size-targeted compaction rewrite: day-partitioned fb_stat →
    * month-partitioned copy whose shuffle width is derived from input
    * bytes / `targetBytes`. Returns the destination path, built once per
    * (sfDir, table): a table name stands for one target.
    */
  private[graft] def compactSized(
      spark: SparkSession, sfDir: String, targetBytes: Long, table: String): String = {
    fbStatTable(spark, sfDir) // ensure the day-partitioned source exists
    val src = Sink.scratchPath(sfDir, "fb_stat")
    val dst = Sink.scratchPath(sfDir, table)
    Scratch.once(dst) {
      val n = Sink.sizedPartitions(Sink.dataBytes(src), targetBytes)
      spark.read.parquet(src)
        .withColumn("month", date_format(col("date"), "yyyy-MM"))
        .repartitionByRange(n, col("month"), col("date"), col("ad_id"))
        .write.partitionBy("month").mode("overwrite").parquet(dst)
    }
  }

  private val compactScanCache = new graft.Memo("etl.compact_scan")

  /** Q-MERGE: upsert (MERGE INTO) semantics — the sink operation the
    * reference's append-only `insert_rows_json` (main.py:81-91) cannot
    * express: correcting already-loaded rows. A deterministic change set
    * (rate corrections for every %3 day, five brand-new days past the
    * horizon) full-outer-joins the current rates snapshot on the key;
    * matched rows take the update, unmatched-left stay, unmatched-right
    * insert — each row tagged with its merge action. At 100 TB this is
    * copy-on-write MERGE: the change set's keys prune to the partitions
    * that actually contain them, only those partitions rewrite, and the
    * join inside each is a broadcast of the (small) change slice — the
    * full-outer shuffle here is the general fallback when the change set
    * is NOT small.
    */
  /** X-SCD2: slowly-changing-dimension type-2 build — the daily FX rate
    * table collapsed into validity intervals: one row per run of equal
    * rates with `valid_from`/`valid_to` (null = current) and an
    * `is_current` flag. This is the dimension shape a warehouse keeps so
    * fact rows can as-of join history (the reference's BigQuery tables
    * get this for free from partitioned loads; here it is an explicit
    * operator). Shape: gaps-and-islands — a lag-compare marks change
    * points, a running sum numbers the islands, one aggregate per island,
    * then a lead over islands closes each interval. All windows partition
    * by `currencies`, so at scale every currency's history is one
    * independent partition — no global sort, no driver state.
    */
  def qScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("currencies").orderBy("date")
    val islands = RatesSource.rates(spark, sfDir)
      .withColumn("chg",
        when(lag("rate", 1).over(w).isNull || lag("rate", 1).over(w) =!= col("rate"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("currencies", "island")
      .agg(min("date").as("valid_from"), min("rate").as("rate"))
    val iw = Window.partitionBy("currencies").orderBy("valid_from")
    islands
      .withColumn("valid_to", date_sub(lead("valid_from", 1).over(iw), 1))
      .select(
        col("currencies"), col("rate"), col("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("currencies", "valid_from")
  }

  /** X-SCD2-JOIN: point-in-time enrichment — facts joined to the SCD2
    * dimension VERSION valid at each fact's event time (`valid_from ≤
    * day ≤ valid_to`, open-ended current version), the canonical
    * warehouse temporal pattern an as-of join approximates and an SCD2
    * table exists to answer exactly. Every order binds to exactly ONE
    * version because the intervals partition the timeline and the rate
    * dim spans the order-date domain — so the inner join conserves the
    * fact count (spec-asserted).
    *
    * Scale shape: a RAW interval predicate under a broadcast plans a
    * nested-loop join — O(versions) predicate evaluations PER FACT ROW
    * (measured: 2.4 s vs 0.4 s at sf0.1 with ~2.4k versions; at 100 TB
    * it is fatal). Because the intervals PARTITION the timeline, the
    * fix is to expand each version to its day grid — still dim-sized
    * (days × currencies) — and hash EQUI-join on the day: map-side
    * broadcast lookup, zero extra shuffles, one probe per fact row.
    * The current version's open end expands to the observed max fact
    * day. Money stays exact cents until the one per-version division.
    */
  def qScd2Join(spark: SparkSession, sfDir: String): DataFrame = {
    val versions = qScd2(spark, sfDir).filter(col("currencies") === "USDUAH")
    val orders = graft.Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("day"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val maxDay = orders.agg(max("day").as("max_day"))
    // versions opening after the last fact day can match nothing and —
    // for the open current version — would make sequence() run BACKWARD
    // (start > stop emits a descending grid, double-binding facts), so
    // they are excluded before the expansion
    val dailyVersions = versions.crossJoin(broadcast(maxDay))
      .filter(col("valid_from") <= col("max_day"))
      .select(col("rate"), col("valid_from"), col("valid_to"),
        explode(sequence(col("valid_from"),
          coalesce(col("valid_to"), col("max_day")))).as("day"))
    orders.join(broadcast(dailyVersions), Seq("day"))
      .groupBy("valid_from", "valid_to", "rate")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      .withColumn("converted",
        col("sum_cents").cast("double") / (col("rate") * 100.0))
      .orderBy("valid_from")
  }

  def qMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val base = RatesSource.rates(spark, sfDir)
    val maxDate = base.agg(max("date")).head().getDate(0)
    val updates = base
      .filter(dayofmonth(col("date")) % 3 === 0)
      .select(col("date"), col("currencies"), (col("rate") + 0.5).as("rate"))
    val inserts = spark.range(1, 6)
      .select(
        date_add(lit(maxDate), col("id").cast("int")).as("date"),
        lit("USDUAH").as("currencies"),
        (lit(30.0) + col("id").cast("double")).as("rate"))
    val changes = updates.unionByName(inserts)
      .withColumnRenamed("currencies", "u_currencies")
      .withColumnRenamed("rate", "u_rate")
      .withColumn("u_present", lit(true))
    base
      .withColumn("b_present", lit(true))
      .join(changes, Seq("date"), "full_outer")
      .select(
        col("date"),
        coalesce(col("u_currencies"), col("currencies")).as("currencies"),
        coalesce(col("u_rate"), col("rate")).as("rate"),
        when(col("b_present").isNotNull && col("u_present").isNotNull, "update")
          .when(col("b_present").isNull, "insert")
          .otherwise("keep").as("action"))
      .orderBy("date")
  }

  /** Q-IDEM: at-least-once append fidelity (K-INS, main.py:81-91 has no
    * dedup/transaction — a rerun duplicates rows). Append the rates table
    * twice into a fresh path; counts must double, not upsert.
    */
  def qIdem(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Scratch.workDir("idem_")
    val path = dir.resolve("exchange_rate").toString
    // Unpartitioned append: Q-IDEM locks the reference's at-least-once
    // *insert* semantics (main.py:81-91); partitioned layout fidelity is
    // covered by Q-PRUNE. Day-partitioning a one-row-per-day table would
    // mean one file per row — wrong at any scale.
    val rates = RatesSource.rates(spark, sfDir).coalesce(1)
    Sink.append(rates, path)
    val n1 = spark.read.parquet(path).count()
    Sink.append(rates, path)
    val n2 = spark.read.parquet(path).count()
    import spark.implicits._
    Seq((n1, n2)).toDF("n_first", "n_second")
  }

  /** Q-IDEM-KEYED: the keyed idempotent sink ([[Sink.appendKeyed]]) —
    * the insertId-dedup counterpart of [[qIdem]]: the SAME double-append
    * protocol, but through the key-deduplicating sink on the rates
    * table's natural key (date, currencies). The rerun must land zero
    * rows (n_second == n_first) while q_idem's plain append doubles —
    * together the two queries pin both sink semantics the reference
    * architecture distinguishes (main.py:81-91 ships without row_ids;
    * a keyed load is what a consumer opts into when reruns must be
    * no-ops).
    */
  def qIdemKeyed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Scratch.workDir("idem_keyed_")
    val path = dir.resolve("exchange_rate").toString
    val rates = RatesSource.rates(spark, sfDir).coalesce(1)
    Sink.appendKeyed(rates, path, Seq("date", "currencies"))
    val n1 = spark.read.parquet(path).count()
    Sink.appendKeyed(rates, path, Seq("date", "currencies"))
    val n2 = spark.read.parquet(path).count()
    import spark.implicits._
    Seq((n1, n2)).toDF("n_first", "n_second")
  }
}
