package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Conversion-attribution and delivery-pacing operators over the
  * `events` table (SURVEY.md §2.7: X-ATTRIB-LAST, X-ATTRIB-POS,
  * X-INTERVAL-MERGE, X-FREQ-CAP) — the reporting family the reference's
  * ads domain (main.py's insights feed: clicks/impressions/conversions)
  * delegates to its warehouse. Touches are `click`/`view` events,
  * conversions are `purchase` events, and revenue is `value` in exact
  * integer cents, so every credit split is bit-deterministic.
  */
object Attribution {

  /** Conversion lookback: a touch attributes only within this window.
    * The in-window definition is ONE rule shared by every model (last /
    * position / decay / streaming): the touch must STRICTLY PRECEDE the
    * conversion in (ts, event_id) stream order (a same-microsecond touch
    * with a later event_id is not yet seen), and sit strictly inside the
    * lookback: `touch_ts > conv_ts − 7 days`.
    */
  val LookbackDays = 7

  /** The shared in-window join predicate over (conv: cts, cid) ×
    * (touch: ts, event_id) — see [[LookbackDays]] for the rule.
    */
  private def inLookback =
    (col("ts") < col("cts") ||
      (col("ts") === col("cts") && col("event_id") < col("cid"))) &&
      col("ts") > col("cts") - expr(s"INTERVAL $LookbackDays DAYS")

  /** X-INTERVAL-MERGE: each event opens this long an activity interval. */
  val ActivityIntervalUs: Long = 12L * 3600L * 1000000L

  /** X-FREQ-CAP: max impressions served per user per calendar week. */
  val WeeklyCap = 4

  private def base(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))

  /** X-ATTRIB-LAST: last-touch conversion attribution — each `purchase`
    * is credited to the user's most recent `click`/`view` within the
    * 7-day lookback (the warehouse-side report the reference's insights
    * ETL feeds); conversions with no in-window touch report as channel
    * `none`, so revenue is conserved: the channel rows partition every
    * purchase exactly once.
    *
    * Scale shape: NO join — one shuffle by user_id + an in-partition
    * sort, then a running `last(..., ignoreNulls)` carries the latest
    * touch struct forward over the interleaved event stream (the
    * streaming fill-down pattern; an as-of join on user would re-shuffle
    * both sides to the same layout and add a range-match). Per-user state
    * during the scan is ONE struct, so a user with millions of events
    * costs a sort, never a cross product. The final per-channel rollup is
    * a ≤3-row aggregate. Deterministic: the fill-down order ends in
    * event_id, making the "latest" touch unique even under timestamp
    * ties.
    */
  def lastTouch(spark: SparkSession, sfDir: String): DataFrame =
    lastTouchOf(base(spark, sfDir))

  /** Core over any (user_id, ts, event_id, event_type, cents) frame —
    * separated so the property law can drive it with generated streams
    * against a sequential reference.
    */
  def lastTouchOf(events: DataFrame): DataFrame = {
    val fill = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("ts").as("ts"), col("event_id").as("event_id"),
        col("event_type").as("et")))
    events
      .withColumn("t", last(touch, ignoreNulls = true).over(fill))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("t").isNotNull &&
            col("t.ts") > col("ts") - expr(s"INTERVAL $LookbackDays DAYS"),
          col("t.et")).otherwise(lit("none")).as("channel"),
        col("cents"), col("user_id"))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_conv"),
        sum("cents").as("revenue_cents"),
        countDistinct("user_id").as("n_users"))
      .orderBy("channel")
  }

  /** X-ATTRIB-POS: position-based (U-shaped) multi-touch attribution
    * with EXACT integer credit — per conversion, the in-lookback touch
    * sequence splits 1,000,000 ppm of credit as 40/20/40 (k=1 → all,
    * k=2 → half each, k≥3 → 400k to first and last, the middle 200k
    * integer-divided with the remainder to the earliest middles), and
    * the conversion's revenue cents are allocated pro rata with the
    * shortfall cents (floor-division residue) assigned to the earliest
    * touches — so BOTH `sum(credit_ppm) = 1e6 × conversions` and
    * `sum(credit_cents) = total purchase cents` hold exactly (asserted
    * as a spec law). Everything is BIGINT: no decimal(38) revenue blowup
    * at 100 TB because credit is distributed per conversion, never
    * accumulated as cents×ppm products.
    *
    * Scale shape: one equi-join on user_id with the lookback range
    * predicate — candidate pairs are bounded by (touches in 7 days) per
    * conversion, not by per-user history, so a heavy user costs its
    * active-window width, not its lifetime. The position windows
    * partition by conversion id (millions of small groups — the healthy
    * window shape), and the final rollup is channel-sized. A left join
    * keeps zero-touch conversions as the `none` channel.
    */
  def positionCredit(spark: SparkSession, sfDir: String): DataFrame =
    positionCreditOf(base(spark, sfDir))

  /** Shared multi-touch scaffolding: conversions LEFT-joined to their
    * in-window touches (zero-touch conversions survive for the `none`
    * channel); rows carry (cid, cents, cts) from the conversion and
    * (ts, event_id, event_type) from the touch.
    */
  private def touchPairs(ev: DataFrame): DataFrame = {
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("event_id").as("cid"), col("cents"))
    val tch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("tu"), col("ts"), col("event_id"),
        col("event_type"))
    conv.join(tch, col("cu") === col("tu") && inLookback, "left")
  }

  /** Shared settlement: given pairs carrying an exact `ppm` column and a
    * priority rank (1 = first claim on leftovers), allocate each
    * conversion's revenue cents exactly — floor share plus the
    * floor-division shortfall (< k cents) granted one cent each to the
    * highest-priority touches — then roll up per channel.
    */
  private def settle(withPpm: DataFrame, priority: String): DataFrame = {
    val convW = Window.partitionBy("cid")
    withPpm
      .withColumn("base_cents", expr("cents * ppm div 1000000L"))
      .withColumn("short", col("cents") - sum("base_cents").over(convW))
      .withColumn("credit_cents",
        col("base_cents") + when(col(priority) <= col("short"), 1L).otherwise(0L))
      .withColumn("channel", coalesce(col("event_type"), lit("none")))
      .groupBy("channel")
      .agg(
        sum("ppm").as("credit_ppm"),
        sum("credit_cents").as("credit_cents"),
        count(col("event_id")).as("n_touches"))
      .orderBy("channel")
  }

  /** Core over any (user_id, ts, event_id, event_type, cents) frame —
    * separated for the generated-data conservation law.
    */
  def positionCreditOf(ev: DataFrame): DataFrame = {
    val rankW = Window.partitionBy("cid").orderBy(col("ts"), col("event_id"))
    val convW = Window.partitionBy("cid")
    val withPpm = touchPairs(ev)
      .withColumn("rn", row_number().over(rankW))
      .withColumn("k", count(col("event_id")).over(convW))
      .withColumn("ppm",
        when(col("k") <= 1, lit(1000000L))
          .when(col("k") === 2, lit(500000L))
          .when(col("rn") === 1 || col("rn") === col("k"), lit(400000L))
          .otherwise(expr(
            "200000L div (k - 2) + IF(rn - 1 <= 200000L % (k - 2), 1L, 0L)")))
    settle(withPpm, "rn")
  }

  /** X-INTERVAL-MERGE: per-user activity-interval union (gaps-and-
    * islands) — every event opens a 12-hour interval [ts, ts+12h); the
    * operator merges strict overlaps into maximal islands and reports
    * per user the island count, total covered microseconds, longest
    * island, and event count. This is the interval-coverage primitive
    * behind "time actually active" billing and union-of-validity-range
    * queries — NOT expressible as a plain groupBy because coverage
    * depends on the merge order.
    *
    * Scale shape: one shuffle by user_id + sort; the island boundary is
    * a running `max(end)` over preceding rows (lag alone is WRONG — an
    * earlier long interval can swallow a later short one), the island id
    * a running sum of boundary flags — both in the same window layout,
    * so ONE exchange feeds every step. All arithmetic is epoch-micros
    * BIGINT; ordering ends in event_id, so island assignment is unique
    * under timestamp ties.
    */
  def intervalMerge(spark: SparkSession, sfDir: String): DataFrame =
    intervalMergeOf(
      Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id")),
      ActivityIntervalUs)

  /** Core over any (user_id, us, event_id) frame with a caller-chosen
    * interval — separated so the property law can check the running
    * max-end merge against a brute-force interval union.
    */
  def intervalMergeOf(events: DataFrame, intervalUs: Long): DataFrame = {
    val ordered = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val prior = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val toHere = ordered.rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("en", col("us") + intervalUs)
      .withColumn("prev_end", max("en").over(prior))
      .withColumn("ni",
        when(col("prev_end").isNull || col("us") >= col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum("ni").over(toHere))
      .groupBy("user_id", "isl")
      .agg(min("us").as("s"), max("en").as("e"), count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("covered_us"),
        max(col("e") - col("s")).as("longest_us"),
        sum("n").as("n_events"))
      .orderBy("user_id")
  }

  /** X-ATTRIB-DECAY: half-life in micros (2 days) and the cap on counted
    * half-lives (lookback/half = 3 fits the 7-day window).
    */
  val DecayHalfLifeUs: Long = 2L * 86400000000L
  val DecayCapHalfLives = 3

  /** X-ATTRIB-DECAY: time-decay multi-touch attribution with EXACT
    * integer credit — each in-lookback touch weighs `2^(cap − elapsed
    * half-lives)` (newest heaviest, weights are small exact BIGINTs, the
    * same powers-of-two trick X-DECAY uses to keep decay bit-exact), and
    * each conversion's 1,000,000 ppm split pro rata by weight with the
    * floor-division remainder granted to the MOST RECENT touches (the
    * model favors recency; largest-remainder would also work but the
    * recency rule is simpler to mirror and equally deterministic).
    * Revenue cents allocate the same way. Together with [[lastTouch]]
    * (one winner) and [[positionCredit]] (position grid) this completes
    * the three standard attribution models; all three conserve exactly
    * and share one oracle-checkable integer discipline.
    *
    * Scale shape: identical to [[positionCredit]] — user equi-join
    * bounded by the lookback, per-conversion windows, channel rollup.
    */
  def timeDecayCredit(spark: SparkSession, sfDir: String): DataFrame =
    timeDecayCreditOf(base(spark, sfDir))

  /** Core over any (user_id, ts, event_id, event_type, cents) frame. */
  def timeDecayCreditOf(ev: DataFrame): DataFrame = {
    val recency = Window.partitionBy("cid")
      .orderBy(col("ts").desc, col("event_id").desc)
    val convW = Window.partitionBy("cid")
    // tw=0 (unattributed left-join row) takes the full 1e6 directly, so
    // its remainder is naturally zero — and the guard must live INSIDE
    // the expression (ANSI division by zero would throw even under a
    // window sum that a `when` branch can't shield)
    val withPpm = touchPairs(ev)
      .withColumn("w",
        when(col("event_id").isNull, lit(0L)).otherwise(expr(
          s"shiftleft(1L, $DecayCapHalfLives - CAST(least(" +
            s"(unix_micros(cts) - unix_micros(ts)) div $DecayHalfLifeUs, " +
            s"$DecayCapHalfLives) AS INT))")))
      .withColumn("rrn", row_number().over(recency))
      .withColumn("tw", sum("w").over(convW))
      .withColumn("fp", expr("IF(tw = 0, 1000000L, 1000000L * w div tw)"))
      .withColumn("ppm", col("fp") +
        when(col("rrn") <= lit(1000000L) - sum("fp").over(convW), 1L)
          .otherwise(0L))
    settle(withPpm, "rrn")
  }

  /** X-STREAM-ATTRIB: last-touch attribution as a STATEFUL STREAM — the
    * continuous form of [[lastTouch]], and the operator a live ads
    * pipeline actually runs (attribute conversions as they arrive, don't
    * re-scan history nightly). Events replay as [[graft.llm.Events
    * .chunkedEventStaging]]'s four chronological micro-batches, so a
    * touch in one batch MUST survive in `GroupState` to attribute a
    * purchase arriving batches later. Per-user state is ONE touch tuple
    * (ts, event_id, type) — bounded regardless of history — updated by
    * each batch's (ts, event_id)-sorted group iterator; purchases emit
    * on arrival with the batch operator's exact lookback rule, so the
    * drained sink's rollup must equal [[lastTouch]] BIT-FOR-BIT (the
    * oracle is literally the same SQL).
    *
    * State is evicted by EVENT-TIME TIMEOUT once the watermark passes
    * `touch_ts + lookback`: after that no future purchase can be inside
    * the lookback (the staged replay is time-ordered, and a post-timeout
    * purchase is > lookback + watermark-delay behind — provably `none`
    * either way), which is what keeps the state store at one live tuple
    * per RECENTLY-ACTIVE user on an unbounded stream, not one per user
    * ever seen. The timeout emits nothing — expiry is eviction, not
    * output.
    */
  def streamingAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val work = graft.etl.Scratch.workDir("stream_attrib_")
    val srcDir = Events.chunkedEventStaging(spark, sfDir)
    val rawSchema = Tables.eventsRaw(spark, sfDir).schema
    val ds = Tables.eventsRawStream(spark, rawSchema, srcDir.toString,
        "maxFilesPerTrigger" -> "1")
      .selectExpr(
        // coalesce the primitive-typed fields: the tuple encoder's
        // AssertNotNull would crash the whole query on a null value /
        // user_id / event_id row (e.g. a future fixture vintage where
        // clicks carry null value) where the batch operators tolerate it
        "coalesce(user_id, 0L) AS user_id",
        Tables.tsMicrosExpr(rawSchema) + " AS us",
        "coalesce(event_id, 0L) AS event_id", "event_type",
        "coalesce(CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS LONG), 0L) AS cents",
        Tables.tsTimestampExpr(rawSchema) + " AS ts")
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, Long, String, Long, java.sql.Timestamp)]
    val attributed = attributeStream(ds).toDF("user_id", "channel", "cents")
    // maxFilesPerTrigger=1: size partitions by the largest staged chunk
    graft.streaming.Drain.toParquet(attributed, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(
        srcDir, perTriggerFiles = Some(1))))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_conv"),
        sum("cents").as("revenue_cents"),
        countDistinct("user_id").as("n_users"))
      .orderBy("channel")
  }

  /** The stateful last-touch transform over a watermarked stream of
    * (user_id, us, event_id, event_type, cents, ts) rows — separated
    * from [[streamingAttribution]]'s staging so the restart-recovery
    * spec can drive it with its own source and checkpoint. State per
    * user: the latest touch tuple (us, event_id, type); output:
    * (user_id, channel, cents) per purchase, emitted on arrival.
    */
  def attributeStream(
      ds: org.apache.spark.sql.Dataset[(Long, Long, Long, String, Long, java.sql.Timestamp)])
      : org.apache.spark.sql.Dataset[(Long, String, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    val lookUs = LookbackDays.toLong * 86400000000L
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[(Long, Long, Long, String, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, String)]) =>
          if (state.hasTimedOut) {
            // watermark passed touch+lookback: no future purchase can match
            state.remove()
            Iterator.empty
          } else {
            val batch = evs.toArray.sortBy(e => (e._2, e._3))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
            var touch = state.getOption
            batch.foreach { case (_, us, eid, typ, cents, _) =>
              if (typ == "click" || typ == "view") {
                // accept only a strictly NEWER touch in (ts, event_id)
                // order: a late-arriving older touch (allowed by the
                // 1-hour watermark) must not overwrite the stored latest
                // one, or replay order would change the answer
                if (touch.forall(t => t._1 < us || (t._1 == us && t._2 < eid)))
                  touch = Some((us, eid, typ))
              } else if (typ == "purchase") {
                // credit only a touch strictly BEFORE the purchase in
                // (ts, event_id) order — mirrors the batch fill-down's
                // rowsBetween(unboundedPreceding, -1): a stored touch
                // that occurred after this (late-arriving) purchase is
                // not attributable to it
                val channel = touch match {
                  case Some((tus, teid, tt))
                      if tus > us - lookUs && (tus < us || (tus == us && teid < eid)) => tt
                  case _ => "none"
                }
                out += ((uid, channel, cents))
              }
            }
            touch match {
              case Some(t) =>
                // a group invoked by NON-touch events can carry state whose
                // horizon the watermark already passed — a timeout in the
                // past throws, and the touch is provably expired for every
                // future purchase, so evict it here instead
                val horizonMs = t._1 / 1000 + lookUs / 1000
                if (horizonMs > state.getCurrentWatermarkMs()) {
                  state.update(t)
                  state.setTimeoutTimestamp(horizonMs)
                } else state.remove()
              case None => // no touch yet for this user — nothing to evict
            }
            out.iterator
          }
      }
  }

  /** X-FREQ-CAP: weekly frequency capping — impressions (`view`/`click`)
    * rank within (user, calendar week) by (ts, event_id); the first
    * [[WeeklyCap]] are served, the rest suppressed. The output is the
    * per-week pacing report (served, suppressed, users who hit the cap)
    * an ads-delivery pipeline publishes. Weeks are Monday-start
    * `date_trunc`, identical in the oracle.
    *
    * Scale shape: one shuffle by (user_id, week) — a FINER key than
    * user alone, so a heavy user's history spreads across weeks instead
    * of one hot partition — then a partial+final rollup to ≤52 rows per
    * year. The rank window and the groupBy use the same (user, week)
    * grain, so AQE coalesces rather than re-exchanges.
    */
  def freqCap(spark: SparkSession, sfDir: String): DataFrame =
    freqCapOf(Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

  /** Core over any (user_id, ts, event_id, event_type) frame —
    * separated so the property law can check the rank-and-cap against a
    * sequential reference.
    */
  def freqCapOf(events: DataFrame): DataFrame = {
    val rank = Window.partitionBy("user_id", "wk").orderBy(col("ts"), col("event_id"))
    events
      .filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("wk", date_trunc("week", col("ts")))
      .withColumn("rn", row_number().over(rank))
      .groupBy(col("wk").cast("date").as("week"))
      .agg(
        sum(when(col("rn") <= WeeklyCap, 1L).otherwise(0L)).as("served"),
        sum(when(col("rn") > WeeklyCap, 1L).otherwise(0L)).as("suppressed"),
        countDistinct(when(col("rn") > WeeklyCap, col("user_id")))
          .as("capped_users"))
      .orderBy("week")
  }
}
