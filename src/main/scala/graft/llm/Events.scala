package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scope, Tables}

/** X-EVENTS (SURVEY.md §2.7): event-time windowing + sessionization over
  * the `events` table — the Spark-native form of the reference's
  * "micro-batch of one day" cadence (`time_increment: 1`,
  * reference main.py:177-180), generalized to real tumbling and session
  * windows. Batch and Structured-Streaming variants share the same
  * aggregation code.
  */
object Events {

  /** Tumbling 1-day event-time windows per event_type (the reference's
    * per-day granularity). Money sums via exact DECIMAL then cast to
    * double (oracle-identical).
    */
  def daily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"), col("total_value"))
      .orderBy("day", "event_type")

  /** X-FUNNEL: ordered multi-stage funnel — how many users completed
    * signup → click → purchase IN THAT EVENT-TIME ORDER (a click before
    * the signup doesn't count, nor a purchase before the qualifying
    * click). Expressed as chained running-min windows over one per-user
    * sort: `s0` = running min signup time; a click qualifies when a
    * signup strictly precedes it (`ts > s0` at that row); `c0` = running
    * min qualifying click; purchases chain off `c0` the same way. The
    * final row per user (struct max on the same total order) carries the
    * complete funnel state, so the whole query is ONE exchange + ONE sort
    * per user partition, three window passes over it, and a global
    * count — no self-joins, no per-stage scans. Total order (ts,
    * event_id) makes running values deterministic under timestamp ties.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perRow = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("s0", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("c0", min(when(col("event_type") === "click" &&
        col("s0").isNotNull && col("ts") > col("s0"), col("ts"))).over(w))
      .withColumn("p0", min(when(col("event_type") === "purchase" &&
        col("c0").isNotNull && col("ts") > col("c0"), col("ts"))).over(w))
    perRow
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("s0"), col("c0"), col("p0"))).as("l"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("l.s0")).as("n_signup"),
        count(col("l.c0")).as("n_click_after"),
        count(col("l.p0")).as("n_purchase_after"))
  }

  /** X-LATEST: current-state snapshot from the event log — the
    * latest-record-per-key materialization every CDC/state table needs
    * ("what is each user's most recent event?"). Implemented as ONE
    * aggregate of a lexicographic struct max keyed (ts, event_id) — the
    * unique event_id makes the max deterministic — so the shuffle
    * carries one partial struct per user per partition and there is NO
    * per-user window sort (at 100 TB a window formulation re-sorts the
    * whole log; the struct max is a partial+final hash agg). The oracle
    * expresses the same semantics as a row_number window — the plans
    * differ, the values cannot.
    */
  def latest(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
          .as("last"))
      .select(
        col("user_id"), col("n_events"),
        col("last.ts").as("last_ts"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"))
      .orderBy("user_id")

  val SessionGap = "30 minutes"

  /** Sessionization: session_window with a 30-minute inactivity gap, then
    * per-user session stats. A new session starts when the gap since the
    * previous event is >= 30 min — mirrored in the oracle via
    * gaps-and-islands (lag + cumulative sum).
    */
  def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    val perSession = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), SessionGap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    perSession
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
      .orderBy("user_id")
  }

  /** Structured-Streaming variant of [[daily]], the SCALE-SAFE way:
    * `outputMode("append")` — each 1-day window is emitted exactly once,
    * when the watermark finalizes it, into a parquet FILE sink (the
    * complete-mode + memory-sink formulation re-materialized the whole
    * aggregate on the driver every micro-batch). Executors write the
    * sink; the driver only tracks the file-sink manifest.
    *
    * Append mode only emits watermark-expired windows, so a finite
    * fixture needs the watermark pushed past its last day: a `__wm__`
    * SENTINEL row (event time = max(ts) + 4 days) is staged next to the
    * data. It flows through the watermark node — advancing the event-time
    * watermark — and is then filtered out before aggregation, so every
    * REAL window finalizes and the sentinel contributes no group. With
    * live data none of this is needed; the sentinel stands in for the
    * ever-advancing event-time of a real stream.
    *
    * Produces the identical result as the batch query (same oracle).
    */
  def streamingDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.eventsRaw(spark, sfDir)
    val rawSchema = raw.schema
    val work = graft.etl.Scratch.workDir("stream_daily_")
    val maxUs = raw.selectExpr(Tables.tsMicrosExpr(rawSchema) + " AS us")
      .agg(max("us")).head().getLong(0)
    // staged landing zone (fixture copy + sentinel) is deterministic per
    // sfDir — build it once per process so repeated runs (bench passes)
    // pay only the stream, not a fresh copy each time. The checkpoint and
    // sink stay per-run (in `work`): a reused checkpoint would make every
    // later run an empty no-op.
    val srcDirS = graft.etl.Sink.scratchPath(sfDir, "events_stream_daily")
    val srcDir = java.nio.file.Paths.get(srcDirS)
    graft.etl.Scratch.once(srcDirS) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, "events.parquet"), srcDir.resolve("events.parquet"))
      // sentinel: 4 days past the max event time (watermark delay is
      // 1 hour — every real 1-day window ends well before this)
      watermarkSentinel(spark, rawSchema, maxUs + 4L * 24 * 3600 * 1000000L)
        .coalesce(1).write.mode("append").parquet(srcDirS)
    }

    // NB: the sentinel must be dropped by a predicate on the WATERMARK
    // column — Catalyst pushes filters on other columns below the
    // EventTimeWatermark node, which would drop the sentinel before it
    // ever advances the watermark; predicates referencing the watermark
    // attribute stay above it.
    val stream = Tables.eventsRawStream(spark, rawSchema, srcDir.toString)
      .withColumn("ts", expr(Tables.tsTimestampExpr(rawSchema)))
      .withWatermark("ts", "1 hour")
      .filter(col("ts") <= timestamp_micros(lit(maxUs)))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"), col("total_value"))
    // drain + read back; srcDir is shared scratch staging — it outlives
    // this run (later runs reuse it). Partition count derived from
    // the staged batch volume (fixture floor 4 — see Drain.adaptivePartitions)
    graft.streaming.Drain.toParquet(stream, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(srcDir)))
      .orderBy("day", "event_type")
  }

  /** Stage the events table as FOUR chronological chunk files plus a
    * far-future watermark sentinel (`maxFilesPerTrigger=1` + explicit
    * mtimes pin replay order) — the shared fixture for every operator
    * that exercises cross-micro-batch `GroupState`
    * ([[streamingSessionsIncremental]], X-STREAM-ATTRIB). Deterministic
    * per sfDir, so it is built once per process in scratch: repeated
    * runs (bench passes) pay only the stream, never the re-stage. The
    * chunks come from a 4-way RANGE exchange on the microsecond (ts,
    * event_id) tie-break (the [[Sampling.globalIds]] idiom) —
    * chronologically contiguous by construction, sorted within each
    * chunk, written in ONE partitioned job — so no unpartitioned window /
    * single-reducer sort exists anywhere in the staging. Chunk boundaries
    * land wherever the range sampler puts them; every consumer is
    * boundary-invariant (that is precisely the cross-batch-state property
    * the fixture exists to prove).
    */
  private[llm] def chunkedEventStaging(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val srcDirS = graft.etl.Sink.scratchPath(sfDir, "events_chunked")
    val srcDir = java.nio.file.Paths.get(srcDirS)
    graft.etl.Scratch.once(srcDirS) {
      val raw = Tables.eventsRaw(spark, sfDir)
      val rawSchema = raw.schema
      val maxUs = raw.selectExpr(Tables.tsMicrosExpr(rawSchema) + " AS us")
        .agg(max("us")).head().getLong(0)
      // chunk order must match the MICROSECOND (ts, event_id) tie-break
      // every batch operator compares against — on the long-nanos
      // vintage, ordering by raw ts would let sub-µs digits flip a
      // same-µs pair across a chunk boundary in the opposite order of
      // the batch window, breaking X-STREAM-ATTRIB's bit-equality.
      // Range exchange, not a global window: partition ids of a range
      // partitioner are ascending in key order, so pid+1 IS the
      // chronological chunk number, and the single partitioned write
      // keeps assignment consistent (re-evaluating spark_partition_id
      // across per-chunk jobs could re-sample different boundaries).
      val chunked = raw
        .repartitionByRange(4, expr(Tables.tsMicrosExpr(rawSchema)), col("event_id"))
        .sortWithinPartitions(expr(Tables.tsMicrosExpr(rawSchema)), col("event_id"))
        .withColumn("chunk", spark_partition_id() + 1)
      val tmpAll = graft.etl.Scratch.workDir("stage_chunks_").resolve("out")
      chunked.write.partitionBy("chunk").parquet(tmpAll.toString)
      (1 to 4).foreach { i =>
        val dirI = tmpAll.resolve(s"chunk=$i")
        require(java.nio.file.Files.isDirectory(dirI),
          s"range staging produced no chunk $i — empty range partition over the events fixture")
        // each range partition writes exactly one file today; any future
        // config that splits output (maxRecordsPerFile, committer change)
        // fails LOUDLY in moveSinglePart rather than drop the chunk's tail
        graft.etl.Scratch.moveSinglePart(dirI, srcDir.resolve(s"chunk$i.parquet"), i)
      }
      graft.streaming.Drain.deleteRecursively(tmpAll.getParent)
      graft.etl.Scratch.stageFile(
        watermarkSentinel(spark, rawSchema, maxUs + 4L * 24 * 3600 * 1000000L),
        srcDir.resolve("chunk5.parquet"), 5)
    }
    srcDir
  }

  /** The `__wm__` watermark SENTINEL row of a staged events replay: one
    * event at `tsUs` (typed to the raw fixture's ts vintage) whose only
    * job is to push the event-time watermark past every real window. Its
    * negative ids keep it out of every join; consumers drop it by a
    * predicate on the watermark column.
    */
  private[llm] def watermarkSentinel(spark: SparkSession,
      rawSchema: org.apache.spark.sql.types.StructType, tsUs: Long,
      userId: Long = -1L, eventType: String = "__wm__"): DataFrame =
    spark.range(1).select(
      lit(-1L).as("event_id"),
      Tables.tsLit(rawSchema, tsUs).as("ts"),
      lit(userId).as("user_id"),
      lit(eventType).as("event_type"),
      lit(0.0).as("value"),
      lit(null).cast("string").as("props"))

  /** X-STREAM-SESSIONS-INC: sessionization with state that genuinely
    * CROSSES micro-batches — the events replay as four chronological
    * chunks (`maxFilesPerTrigger=1`, explicit file mtimes pin the
    * order), so a session spanning a chunk boundary must survive in
    * `GroupState` between batches and a finished session is flushed by
    * an EVENT-TIME TIMEOUT when the watermark passes its gap horizon.
    * This is the shape a live 100 TB stream actually runs (open sessions
    * in the state store, watermark-driven eviction); the single-batch
    * variant below only exercises the degenerate everything-in-one-batch
    * case. Same 30-minute gap rule, same oracle as [[sessions]]. The
    * per-batch work per user is O(events in batch); state is one open
    * session tuple (start, last, n) — bounded regardless of history.
    */
  def streamingSessionsIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 30L * 60 * 1000 * 1000
    val raw = Tables.eventsRaw(spark, sfDir)
    val rawSchema = raw.schema
    val work = graft.etl.Scratch.workDir("stream_sessions_inc_")
    val srcDir = chunkedEventStaging(spark, sfDir)

    val ds = Tables.eventsRawStream(spark, rawSchema, srcDir.toString,
        "maxFilesPerTrigger" -> "1")
      .selectExpr("user_id", Tables.tsMicrosExpr(rawSchema) + " AS us",
        Tables.tsTimestampExpr(rawSchema) + " AS ts")
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp)]
    val perSession = ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: session closed
            val (_, _, n) = state.get
            state.remove()
            Iterator.single(uid -> n)
          } else {
            val ts = evs.map(_._2).toArray
            java.util.Arrays.sort(ts)
            val closed = scala.collection.mutable.ArrayBuffer.empty[Long]
            var cur = state.getOption // (start, last, n)
            ts.foreach { t =>
              cur = cur match {
                case Some((s, l, n)) if t - l < gapUs => Some((s, t, n + 1))
                case Some((_, _, n)) => closed += n; Some((t, t, 1L))
                case None => Some((t, t, 1L))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // flush when the event-time watermark passes the gap horizon
              state.setTimeoutTimestamp(c._2 / 1000 + gapUs / 1000)
            }
            closed.iterator.map(uid -> _)
          }
      }
      .toDF("user_id", "n_events")
      .filter(col("user_id") =!= -1L) // the sentinel's own open "session"
    // srcDir is the shared scratch staging — it must survive this run.
    // maxFilesPerTrigger=1: size partitions by the largest staged chunk
    graft.streaming.Drain.toParquet(perSession, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(
        srcDir, perTriggerFiles = Some(1))))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
      .orderBy("user_id")
  }

  /** Stateful streaming sessionization via `flatMapGroupsWithState` — the
    * custom-state path for when `session_window` can't express the
    * semantics (per-group imperative state). Same 30-minute gap rule and
    * the same oracle as [[sessions]]: for each user the state machine
    * walks events in time order and splits on gaps >= 30 min. The fixture
    * arrives as one micro-batch, so sessions finalize at batch end; with
    * live data the same function carries open sessions across batches in
    * `GroupState` (timeout-driven flush); the incremental variant above
    * ([[streamingSessionsIncremental]]) exercises exactly that.
    */
  def streamingSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMicros = 30L * 60 * 1000 * 1000
    val rawSchema = Tables.eventsRaw(spark, sfDir).schema
    val work = graft.etl.Scratch.workDir("stream_sessions_")
    val ds = Tables.eventsRawStream(spark, rawSchema, sfDir,
        "pathGlobFilter" -> "events.parquet")
      .selectExpr("user_id", Tables.tsMicrosExpr(rawSchema) + " AS us")
      .as[(Long, Long)]
    val perSession = ds.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[(Long, Long)], state: GroupState[Array[Long]]) =>
          val ts = evs.map(_._2).toArray
          java.util.Arrays.sort(ts)
          val sessions = scala.collection.mutable.ArrayBuffer.empty[Long]
          var n = 0L
          var last = Long.MinValue
          ts.foreach { t =>
            if (n > 0 && t - last >= gapMicros) { sessions += n; n = 0 }
            n += 1; last = t
          }
          if (n > 0) sessions += n
          sessions.iterator.map(uid -> _)
      }
      .toDF("user_id", "n_events")
    // file sink, not memory: per-session rows land in executor-written
    // parquet; only the final per-user rollup below aggregates them.
    // single-batch drain over the raw events file: size by its bytes
    graft.streaming.Drain.toParquet(perSession, work,
      shufflePartitions = Some(graft.streaming.Drain.partitionsForBytes(
        java.nio.file.Files.size(java.nio.file.Paths.get(sfDir, "events.parquet")))))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
      .orderBy("user_id")
  }

  /** X-HLL: approximate distinct users (HyperLogLog++) per event_type,
    * validated against the exact count. The raw HLL estimate is
    * engine-specific, so the ORACLE-facing columns are the exact count
    * plus within-10% accuracy booleans (as 0/1 BIGINT) — DuckDB computes
    * exact distincts and literal `1`, and the hash compare proves the
    * sketch landed inside the bound. Default rsd is 5%, so 10% is a
    * stable margin; the tighter bound is also asserted in ScalaTest.
    */
  /** X-RETENTION: day-over-day user retention — the lag/lead analytic
    * window family. Distinct (user, day) pairs, `lag(day)` per user in
    * day order marks who was also active the previous day, then a per-day
    * rollup. One shuffle by user for the window, one partial+final agg by
    * day; both key spaces are bounded.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val active = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    active
      .withColumn("prev", lag("day", 1).over(w))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_active"),
        sum(when(col("prev") === date_sub(col("day"), 1), 1L).otherwise(0L))
          .as("n_retained"))
      .orderBy("day")
  }

  /** X-TRANSITIONS: the per-user event-type transition matrix — Markov
    * counts (prev_type → type) over each user's event-time-ordered
    * stream, plus the row-share of each transition among its source
    * type's outgoing edges as an exact integer pair (n, row_total) and
    * their single-division rate. The sequence-mining complement of
    * X-FUNNEL (the funnel checks ONE prescribed path; the matrix
    * measures every observed step). One exchange by user + one sorted
    * window pass + one partial-aggregated rollup over a ≤|types|² key
    * space; total order (ts, event_id) pins ties.
    */
  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val steps = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy("prev_type")
    steps
      .withColumn("row_total", sum("n").over(totals))
      .withColumn("rate", col("n").cast("double") / col("row_total").cast("double"))
      .orderBy("prev_type", "next_type")
  }

  /** X-DECAY half-life: one week, applied in WHOLE half-life steps
    * (`Δdays div 7`, capped at 63) so the weight is `2^-h` — an exact
    * dyadic double on every engine. `pow(0.5, Δ/7.0)` would be the
    * smooth version, but libm's pow is not bit-identical across engines
    * and the correctness gate is exact; the stepped weight keeps every
    * per-row product exact, leaving summation order as the only
    * engine-dependent bit (round 6). The 63 cap is where `1L << h`
    * would overflow — by then the weight is 1e-19, i.e. zero.
    */
  val DecayCapHalfLives = 63

  /** X-DECAY: recency-weighted engagement — exponentially decayed counts
    * and value per event type (the "recent activity matters more" score
    * every ranking/retention feature store keeps). Weight derives from
    * the corpus max day (broadcast one-row aggregate), so the operator
    * is deterministic for a fixed dataset. Map-only weighting + one
    * partial-aggregated shuffle.
    */
  def decayed(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).filter(col("value").isNotNull)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val maxDay = ev.agg(max("day").as("d1"))
    ev.crossJoin(broadcast(maxDay))
      .withColumn("h", least(expr("CAST((datediff(d1, day) div 7) AS INT)"),
        lit(DecayCapHalfLives)))
      .withColumn("w", lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), h)").cast("double"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        max("day").as("last_day"),
        round(sum("w"), 6).as("decayed_n"),
        round(sum(col("cents").cast("double") * col("w")), 6).as("decayed_cents"))
      .orderBy("event_type")
  }

  /** X-SLIDING: 7-day windows sliding by 1 day per event_type — the
    * overlapping-window aggregation (`window(ts, "7 days", "1 day")`
    * explodes each event into its ≤7 covering windows; partial agg
    * collapses map-side before the shuffle). Only windows fully inside
    * the data range are kept so both engines agree on the boundary set.
    */
  def slidingDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      min(col("ts").cast("date")).as("d0"), max(col("ts").cast("date")).as("d1")).head()
    val (d0, d1) = (bounds.getDate(0), bounds.getDate(1))
    ev.groupBy(window(col("ts"), "7 days", "1 day").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("w.start").cast("date").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
      .filter(col("win_start") >= lit(d0) &&
        date_add(col("win_start"), 6) <= lit(d1))
      .orderBy("win_start", "event_type")
  }

  /** X-WINDOW-RANGE: RANGE-frame analytic window — each user's trailing
    * 7-day activity (count + value) per active day. Unlike a ROWS frame,
    * the RANGE frame is defined by the ORDER-BY VALUE distance (days
    * here), so gaps in activity shrink the window naturally. Spark's
    * rangeBetween needs a numeric ordering column — days since epoch —
    * with frame [-6, 0]; DuckDB's native `RANGE BETWEEN INTERVAL 6 DAY
    * PRECEDING` over the date is the same frame. Pre-aggregating to one
    * row per (user, day) BEFORE the window bounds the window input (and
    * the shuffle) to active-days, not raw events; the frame then sums ≤7
    * exact DECIMAL values — order-insensitive, oracle-identical.
    */
  def rangeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("day"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n"), sum("v").as("v"))
    val w = Window.partitionBy("user_id")
      .orderBy(datediff(col("day"), lit("1970-01-01")))
      .rangeBetween(-6, 0)
    daily
      .withColumn("n7", sum("n").over(w))
      .withColumn("v7", sum("v").over(w).cast("double"))
      .select(col("user_id"), col("day"), col("n7"), col("v7"))
    // user×day-sized output ends without a global sort (gates sort rows)
  }

  /** Fixture event types, pinned for a deterministic pivot column set
    * (an inferred pivot would scan twice and make output schema
    * data-dependent — never do that at scale).
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** X-PIVOT: long→wide reshape — per-day event_type value totals as
    * columns. With pinned pivot values this is ONE partial+final hash
    * agg (each pivot cell a conditional sum); sums in exact DECIMAL.
    */
  def pivotDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val pivoted = Tables.events(spark, sfDir)
      .select(col("ts").cast("date").as("day"), col("event_type"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .agg(sum("v"))
    pivoted.select(col("day") +:
        EventTypes.map(t => col(s"`$t`").cast("double").as(t)): _*)
      .orderBy("day")
  }

  /** X-UNPIVOT: wide→long melt, the inverse reshape of [[pivotDaily]] —
    * the pivoted day×type matrix unpivots back to (day, event_type,
    * total) rows; absent cells (NULL) drop, matching the long form.
    * Narrow per-row expansion, no extra shuffle beyond the pivot's agg.
    */
  def unpivotDaily(spark: SparkSession, sfDir: String): DataFrame =
    pivotDaily(spark, sfDir)
      .unpivot(Array(col("day")), EventTypes.map(col).toArray, "event_type", "total_value")
      .filter(col("total_value").isNotNull)
      .orderBy("day", "event_type")

  /** X-CUBE: full multi-dimensional aggregation — CUBE over
    * (event_type, month) emits all four grouping-set combinations with
    * grouping_id disambiguation (ROLLUP's two-level form is q_rollup).
    */
  def cubeMonthly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .cube("event_type", "month")
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum("v").cast("double").as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("month"), lit("ALL")).as("month"),
        col("gid"), col("n"), col("total_value"))
      .orderBy("event_type", "month", "gid")

  /** X-GROUPING-SETS: arbitrary grouping-set aggregation — the general
    * form cube/rollup are shorthands of (a reporting layer asks for
    * exactly the marginals it renders, not the full 2ⁿ cube). Sets here:
    * (type, dow), (type), (dow), () — per-cell, two one-dimension
    * marginals, and the grand total. Spark computes ALL sets in ONE
    * Expand + one aggregate exchange (each input row is replicated once
    * per set, partial-aggregated map-side) — same plan shape as cube but
    * with 4 replicas instead of 2ⁿ; at 100 TB the replication factor IS
    * the cost knob, which is why grouping sets beat a cube you'd filter.
    * `dayofweek` is 1=Sunday..7 in Spark; the oracle adds 1 to DuckDB's
    * 0-based result.
    */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("dow")), Seq(col("event_type")),
          Seq(col("dow")), Seq()),
        col("event_type"), col("dow"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum("v").cast("double").as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("gid"), col("n"), col("total_value"))
      .orderBy("event_type", "dow", "gid")

  /** X-WINDOW-FUNCS: the analytic-window breadth pack — ntile quartiles,
    * percent_rank, cume_dist, and lag deltas over ONE per-type sort
    * (value, event_id — a total order, so every rank function is
    * deterministic), then aggregated per (type, quartile) so the checked
    * result is small while pinning every function's full column: exact
    * counts and DECIMAL value sums per quartile, round-6 mean
    * percent_rank, exact max cume_dist, and the count of lag-gaps above
    * half a unit. Plan: one exchange on event_type + one sort + one
    * window pass + one partial-aggregated shuffle — the window partition
    * key (event_type) is the scale guard; nothing windows over an
    * unpartitioned frame.
    */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        col("value").cast(DecimalType(18, 2)).as("value"))
      .withColumn("q", ntile(4).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("gap", (col("value") - lag("value", 1).over(w)).cast("double"))
      .groupBy("event_type", "q")
      .agg(
        count(lit(1)).as("n"),
        sum("value").cast("double").as("total_value"),
        round(avg("pr"), 6).as("mean_pr"),
        max("cd").as("max_cd"),
        sum(when(col("gap") > 0.5, 1L).otherwise(0L)).as("n_big_gaps"))
      .orderBy("event_type", "q")
  }

  /** X-QUANTILES: the quantile aggregate family — exact percentiles for
    * the oracle plus the KLL-style `approx_percentile` sketch that
    * actually scales (exact percentile buffers every value per group;
    * the sketch is bounded-memory and mergeable). Values are lifted to
    * integer CENTS before interpolating so both engines interpolate
    * between exact integers; the approx estimate must land within 1% of
    * the group's value range (flagged 0/1, oracle asserts 1).
    */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(cents, 0.5)").as("p50c"),
        expr("percentile(cents, 0.9)").as("p90c"),
        expr("approx_percentile(cents, 0.5, 10000)").as("a50c"),
        min("cents").as("cmin"), max("cents").as("cmax"))
      .select(
        col("event_type"), col("n"),
        round(col("p50c") / 100.0, 6).as("p50"),
        round(col("p90c") / 100.0, 6).as("p90"),
        (abs(col("a50c") - col("p50c")).cast("double")
          <= (col("cmax") - col("cmin")).cast("double") * 0.01)
          .cast("long").as("approx_p50_close"))
      .orderBy("event_type")

  /** X-HLL-MERGE: the MERGEABLE-sketch pattern a 100 TB rollup needs —
    * per-(event_type, day) HLL sketches built once (this is what gets
    * PERSISTED alongside daily aggregates), then union-merged across days
    * to answer a range-distinct query without touching raw events. The
    * estimate from merged daily sketches must land within 10% of the
    * exact range distinct; like X-HLL the oracle-facing columns are the
    * exact count + the accuracy flag.
    */
  def approxDistinctMerged(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val daily = ev
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("au"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    exact.join(merged, Seq("event_type"))
      .select(
        col("event_type"), col("exact_users"),
        (abs(col("au") - col("exact_users")).cast("double")
          <= col("exact_users") * 0.1).cast("long").as("merged_within_10pct"))
      .orderBy("event_type")
  }

  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("exact_users"),
        approx_count_distinct("user_id").as("au"),
        countDistinct("event_id").as("ee"),
        approx_count_distinct("event_id").as("ae"))
      .select(
        col("event_type"), col("exact_users"),
        (abs(col("au") - col("exact_users")).cast("double")
          <= col("exact_users") * 0.1).cast("long").as("approx_within_10pct"),
        (abs(col("ae") - col("ee")).cast("double")
          <= col("ee") * 0.1).cast("long").as("approx_events_within_10pct"))
      .orderBy("event_type")

  /** X-DAU: rolling active-user counts (DAU / WAU / MAU + stickiness) —
    * the engagement dashboard every product ships. Rolling DISTINCT
    * counts don't fit window functions (distinct isn't decomposable
    * over sliding frames), and the naive per-day "scan the trailing 30
    * days of raw events" is 30 corpus scans; the scalable formulation
    * is the CONTRIBUTION EXPLODE: dedup to (user, active day) once —
    * one partial+final agg over the facts — then each pair emits the 7
    * (resp. 30) report days it contributes to, and a distinct-count per
    * report day does the rest. Work is |active pairs|·37, independent
    * of event volume, and every step is an agg on (day, user) keys.
    * Report days clamped to the observed range so edge windows are
    * partial by construction (mirrored). Stickiness = dau/mau, the one
    * IEEE division.
    */
  def dauWauMau(spark: SparkSession, sfDir: String): DataFrame =
    dauWauMauOf(Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("day")))

  /** Core rolling-actives computation over any (user_id, day) frame —
    * separated so the property law can drive it with generated sparse
    * activity against a brute-force rolling-distinct reference.
    */
  def dauWauMauOf(activity: DataFrame): DataFrame = Scope.run { sc =>
    val ud = sc.cut(activity.distinct())
    def rolling(span: Int, name: String): DataFrame = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), span - 1))).as("rday"))
      .groupBy("rday").agg(countDistinct("user_id").as(name))
    val dau = ud.groupBy(col("day").as("rday")).agg(countDistinct("user_id").as("dau"))
    // report days = days with >= 1 active user (the inner join also
    // discards contribution days past the observed range — a rolling
    // window is only reported where a DAU row exists, oracle-mirrored)
    dau
      .join(rolling(7, "wau"), Seq("rday"))
      .join(rolling(30, "mau"), Seq("rday"))
      .select(col("rday").as("day"), col("dau"), col("wau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
      .orderBy("day")
  }

  /** X-SEASONALITY: day-of-week profile per event type — mean value by
    * weekday vs the type's overall mean, as a seasonality INDEX (the
    * detrending table a forecast or anomaly monitor divides by). All
    * inputs exact: per-(type, dow) count + cents sum from one
    * partial+final agg, type totals folded from the same frame
    * (dim-sized), index = (dow_cents·n_total)/(n_dow·total_cents) — one
    * IEEE expression over <2^53 integers mirrored verbatim. Weekday
    * numbering aligned across engines (0 = Sunday).
    */
  def seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"), sum("cents").as("dow_cents"))
    val totals = base.groupBy("event_type")
      .agg(sum("n").as("n_total"), sum("dow_cents").as("total_cents"))
    base.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n"), col("dow_cents"),
        ((col("dow_cents") * col("n_total")).cast("double") /
          (col("n") * col("total_cents")).cast("double")).as("dow_index"))
      .orderBy("event_type", "dow")
  }

  /** X-SESSIONS-DYNAMIC: sessionization with a PER-EVENT gap — Spark's
    * dynamic-gap `session_window` (the gap is an expression, not a
    * constant): purchases hold a session open for 60 minutes, everything
    * else 30 — the "a conversion keeps the visit alive longer" rule
    * real attribution models use, inexpressible with the fixed-gap
    * operator (X-EVENTS sessions). Semantically each event contributes
    * the interval [ts, ts+gap) and a user's sessions are the merged
    * interval union; the oracle mirrors that with a running
    * strictly-preceding `max(ts+gap)` per user (a new session starts
    * exactly when ts ≥ every preceding event's horizon) — an
    * order-insensitive formulation, so timestamp ties cannot drift.
    * Durations are exact epoch-microsecond differences. Scale shape:
    * one exchange by (session key) for the session aggregation + one
    * per-user rollup — identical to the fixed-gap operator's cost.
    */
  def sessionsDynamic(spark: SparkSession, sfDir: String): DataFrame = {
    val gap = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    val perSession = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    perSession.groupBy("user_id").agg(
      count(lit(1)).as("n_sessions"),
      sum("n_events").as("n_events"),
      max("n_events").as("max_session_events"),
      sum(unix_micros(col("w.end")) - unix_micros(col("w.start")))
        .as("total_session_us"))
      .orderBy("user_id")
  }

  /** Path prefix length for [[pathTopK]]: the first 5 events name the
    * session's shape; longer prefixes fragment the distribution into
    * singletons and stop naming BEHAVIOR.
    */
  val PathPrefixLen = 5

  /** Paths reported by [[pathTopK]]. */
  val PathTopK = 10

  /** X-PATH-TOPK: top-k session paths — the most common event-type
    * SEQUENCES users actually walk (the "what do sessions look like"
    * readout behind every funnel hypothesis: X-FUNNEL checks ONE
    * hand-written ordering, this SURFACES the orderings worth checking).
    * Sessions are the same 30-minute-gap `session_window` grouping as
    * X-EVENTS; each session's path is its first [[PathPrefixLen]] event
    * types joined with '>' in exact (ts, event_id) order — event_id
    * breaks timestamp ties, so the string is engine-deterministic — and
    * the report is the [[PathTopK]] most frequent paths with session and
    * distinct-user counts ((count desc, path asc) total order).
    *
    * Scale shape: the only fact-sized work is the session_window
    * grouping (one shuffle on user_id — identical to X-EVENTS); the
    * per-session struct sort is bounded by session length, the path
    * frame is one short string per session, and the top-k is an
    * orderBy+limit that plans as TakeOrderedAndProject (no global sort
    * materialization).
    */
  def pathTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val perSession = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), SessionGap).as("w"), col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
    perSession
      .select(col("user_id"),
        array_join(
          slice(transform(col("evs"), e => e("event_type")), 1, PathPrefixLen),
          ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"), countDistinct("user_id").as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(PathTopK)
  }

  /** X-JSON-EXTRACT: typed semi-structured extraction — the `props`
    * JSON column parsed with an EXPLICIT schema (`from_json(props,
    * "k BIGINT")`), then profiled per event type. The explicit schema
    * is the scale decision: schema-on-read with inference
    * (`schema_of_json` / sampling) re-derives the schema per run and
    * can silently widen types mid-pipeline, while a declared schema
    * makes the parse a single codegen'd `JsonToStructs` projection —
    * row-local, no shuffle, malformed rows become NULLs that the
    * profile counts instead of killing the job (the same
    * PERMISSIVE-over-failfast stance as Q-LOAD-CSV). One partial+final
    * agg after the narrow parse; the oracle mirrors with
    * `json_extract_string` + cast.
    */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        countDistinct("k").as("n_distinct_k"))
      .orderBy("event_type")

  /** X-COHORT: weekly signup-cohort retention matrix — users grouped by
    * their FIRST active week, each later active week counted at its
    * week offset: the classic growth triangle (cohort rows, age
    * columns) that X-RETENTION's day-over-day view cannot express
    * because it has no per-user anchor. Exact arithmetic: weeks are
    * `date_trunc('week', …)` dates in both engines and the offset is an
    * integer day difference divided by 7 (always a multiple). Scale
    * shape: one distinct-projection partial+final agg to (user, week),
    * a per-user min-agg for the anchor (reusing the user partitioning),
    * an equi-join back, then a cohort²-sized rollup with the cohort
    * size riding along for the one-division retention rate.
    */
  def cohort(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val anchor = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sized = anchor.groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
    uw.join(anchor, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sized), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_n"),
        (col("n_active").cast("double") / col("cohort_n").cast("double")).as("rate"))
      .orderBy("cohort_week", "week_offset")
  }

  /** X-LTV: cohort lifetime-value curve — X-COHORT counts who comes
    * BACK; this sums what they SPEND: per signup cohort (first active
    * week, same anchor as X-COHORT) and week offset, the purchase cents
    * that week, the running cumulative, and the per-user LTV
    * (cum div cohort size — exact integer division), i.e. the
    * monetization curve a payback-period decision reads. All exact:
    * cents from the DECIMAL(18,2) cast, offsets integer week
    * differences, the cumulative a window PARTITIONED by cohort over
    * the calendar-bounded offset domain. Scale shape: one distinct-free
    * fact agg to (user, week) spend, the per-user min-anchor agg, an
    * equi-join back, a cohort²-bounded rollup, then the tiny cumulative
    * window — the X-COHORT plan with value riding along.
    */
  def ltv(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"),
        when(col("event_type") === "purchase",
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
          .otherwise(lit(0L)).as("cents"))
      .groupBy("user_id", "week")
      .agg(sum("cents").as("cents"))
    val anchor = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sized = anchor.groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
    val wk = uw.join(anchor, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(sum("cents").as("week_cents"))
    wk
      .withColumn("cum_cents",
        sum("week_cents").over(Window.partitionBy("cohort_week")
          .orderBy("week_offset")))
      .join(broadcast(sized), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("cohort_n"),
        col("week_cents"), col("cum_cents"),
        expr("cum_cents div cohort_n").as("ltv_cents_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  /** X-TIME-TO-CONVERT: conversion-latency distribution — per user, the
    * delay from FIRST signup to FIRST purchase (users converting before
    * signing up are excluded: that ordering is a data bug X-FUNNEL's
    * strict sequence also refuses), bucketed by decimal magnitude of the
    * delay in seconds. The bucket key is `length(CAST(delta_s AS
    * STRING))` — the digit count of an exact nonnegative integer, a
    * log10 floor with NO float log (string length of an integer is
    * engine-exact where `floor(log10(x))` is one ulp from a wrong
    * bucket at powers of ten). Output per magnitude bucket: converting
    * users, min/max/total delay seconds — the latency histogram a
    * conversion-window decision (attribution lookback, retargeting
    * delay) is read from. Scale shape: ONE per-user partial+final agg
    * (two conditional mins — the shuffle carries two µs values per
    * user), then a ≤10-row magnitude rollup; no windows, no joins.
    */
  def timeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("us"))).as("s_us"),
        min(when(col("event_type") === "purchase", col("us"))).as("p_us"))
      .filter(col("s_us").isNotNull && col("p_us").isNotNull &&
        col("p_us") >= col("s_us"))
      .select(expr("(p_us - s_us) div 1000000").as("delta_s"))
    per
      .withColumn("magnitude", length(col("delta_s").cast("string")).cast("long"))
      .groupBy("magnitude")
      .agg(
        count(lit(1)).as("n_users"),
        min("delta_s").as("min_s"),
        max("delta_s").as("max_s"),
        sum("delta_s").as("total_s"))
      .orderBy("magnitude")
  }

  /** Bloom filter size for [[bloomFpr]] (bits) and word width — 32-bit
    * words keep every mask positive in BIGINT on both engines (a 1<<63
    * mask overflows DuckDB's checked shift).
    */
  val BloomBits = 4096L
  val BloomWordBits = 32L

  /** The k = 3 independent hash bases (the poly-hash kernel family). */
  val BloomBases = Seq(131L, 137L, 139L)

  /** X-BLOOM-FPR: an explicit Bloom filter with its false-positive rate
    * MEASURED, not assumed — X-BLOOM-JOIN uses Spark's built-in filter
    * as an opaque pushdown; this one is built from first principles so
    * the whole sketch (k poly-hashes → bit positions → 32-bit words →
    * `bit_or` fold) is bit-identical in the oracle and the FPR claim is
    * auditable: insert the even-id user cohort, probe the DISJOINT
    * odd-id cohort (disjoint BY CONSTRUCTION — behavioral splits like
    * purchasers-vs-rest degenerate on fixtures where every user
    * converts), count probes where all k bits are set — every hit is by
    * construction a false positive, so `n_fp/n_probes` IS the
    * observed FPR (reported in exact integer ppm). This is the sketch
    * the 100 TB pre-join membership gate is built on, and the measured
    * load factor (set bits / m) is the saturation alarm that says when
    * to resize.
    *
    * Scale shape: build = one explode(k)+partial `bit_or` agg into ≤
    * m/32 words (the filter is KBs whatever the corpus); probe =
    * map-side against the BROADCAST word table + one per-user
    * all-bits-set agg; nothing fact-sized ever sorts or re-shuffles.
    */
  def bloomFpr(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    import graft.functions.PolyHash
    val users = Tables.events(spark, sfDir).select("user_id").distinct()
    val buyers = users.filter(pmod(col("user_id"), lit(2L)) === 0L)
    val others = users.filter(pmod(col("user_id"), lit(2L)) === 1L)
    def bitsOf(df: DataFrame): DataFrame = df.select(col("user_id"),
      explode(array(BloomBases.map(b =>
        pmod(PolyHash.poly_hash(col("user_id").cast("string"), b),
          lit(BloomBits))): _*)).as("h"))
      .select(col("user_id"),
        expr(s"h div $BloomWordBits").as("w"),
        expr(s"shiftleft(1L, CAST(h % $BloomWordBits AS INT))").as("mask"))
    // ≤ m/32 rows; consumed by the stats agg AND the probe join
    val words = sc.cut(bitsOf(buyers).groupBy("w")
      .agg(expr("bit_or(mask)").as("word")))
    val stats = words.agg(
      sum(expr("bit_count(word)")).as("n_set_bits"))
    val probed = bitsOf(others)
      .join(broadcast(words), Seq("w"), "left")
      .select(col("user_id"),
        when(coalesce(col("word"), lit(0L)).bitwiseAND(col("mask")) =!= 0L, 1L)
          .otherwise(0L).as("hit"))
      .groupBy("user_id")
      .agg(min("hit").as("all_set"))
    val nIns = buyers.agg(count(lit(1)).as("n_inserted"))
    probed.agg(
        count(lit(1)).as("n_probes"),
        sum("all_set").as("n_fp"))
      .crossJoin(broadcast(nIns))
      .crossJoin(broadcast(stats))
      .select(lit(BloomBits).as("m_bits"), col("n_inserted"), col("n_set_bits"),
        col("n_probes"), col("n_fp"),
        expr("n_fp * 1000000 div n_probes").as("fpr_ppm"),
        expr(s"n_set_bits * 1000000 div $BloomBits").as("load_ppm"))
  }

  /** KMV sketch size: 64 minimum hash values per set. */
  val KmvK = 64

  /** KMV hash base (31-bit poly hash over the id's decimal string). */
  val KmvBase = 131L

  /** X-KMV: k-minimum-values sketch — bounded-size distinct estimation
    * WITH set intersection, the operation HLL cannot do (HLL unions
    * losslessly but has no intersection; x_overlap computes the exact
    * answer with a fact-sized self-join). Per event type the sketch is
    * the [[KmvK]] smallest distinct poly-hash values of its user set
    * (`est = (k−1)·M/h_k`, Bar-Yossef et al. 2002); for each type pair
    * the k smallest of the UNION of the two sketches vote — the
    * fraction of those present in BOTH sketches estimates Jaccard, all
    * from k-sized state per set. Determinism: the sketch is an order
    * statistic of a deterministic hash — no randomness, independent of
    * partitioning — and the hash is the same 31-bit poly hash the
    * signature family mirrors in SQL, so estimates (not just bounds)
    * are oracle-checked. Scale shape: one distinct-projection
    * partial+final agg over the facts, one per-type ranking window over
    * the deduped (type, hash) frame, then everything pairwise happens
    * on ≤ types·k sketch rows — never an all-pairs join over users.
    */
  def kmvSketch(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{PolyHash, PolyHashing}
    val uh = Tables.events(spark, sfDir)
      .select(col("event_type"),
        PolyHash.poly_hash(col("user_id").cast("string"), KmvBase).as("h"))
      .distinct()
    val w = Window.partitionBy("event_type").orderBy("h")
    val ranked = uh
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
    // sealed: the ≤ types·k sketch frame feeds the per-type stats AND
    // both sides of every pair vote — without it each consumer re-ranks
    // the distinct-hash frame from the fact scan (at scale this is the
    // persisted sketch table)
    val sketch = sc.seal(ranked.filter(col("rn") <= KmvK))
    val stats = sketch.groupBy("event_type").agg(
      max("cnt").as("n_hashes"),
      count(lit(1)).as("k_used"),
      max("h").as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_hashes") <= KmvK, col("n_hashes").cast("double"))
          .otherwise(lit((KmvK - 1) * PolyHashing.Mod).cast("double")
            / col("kth_hash").cast("double")))
    val pairTypes = stats.select(col("event_type").as("type_a"))
      .crossJoin(stats.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val fromA = pairTypes
      .join(sketch.select(col("event_type").as("type_a"), col("h")), Seq("type_a"))
      .select(col("type_a"), col("type_b"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
    val fromB = pairTypes
      .join(sketch.select(col("event_type").as("type_b"), col("h")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("h"),
        lit(0L).as("in_a"), lit(1L).as("in_b"))
    val voters = fromA.union(fromB)
      .groupBy("type_a", "type_b", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .withColumn("urn", row_number().over(
        Window.partitionBy("type_a", "type_b").orderBy("h")).cast("long"))
      .filter(col("urn") <= KmvK)
    val pairs = voters.groupBy("type_a", "type_b").agg(
      count(lit(1)).as("l_size"),
      sum(col("in_a") * col("in_b")).as("n_both"))
      .withColumn("jaccard_est",
        col("n_both").cast("double") / col("l_size").cast("double"))
    pairs
      .join(broadcast(stats.select(col("event_type").as("type_a"),
        col("est_distinct").as("est_a"))), Seq("type_a"))
      .join(broadcast(stats.select(col("event_type").as("type_b"),
        col("est_distinct").as("est_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("l_size"), col("n_both"),
        col("jaccard_est"), col("est_a"), col("est_b"))
      .orderBy("type_a", "type_b")
  }

  /** X-BITMAP-DISTINCT: exact re-aggregable distinct counts via bitmap
    * partials ([[graft.functions.Bitmap]]) — the materialized-rollup
    * pattern (ClickHouse `groupBitmap`, Druid bitmap metrics): one
    * compressed id-set partial per (event_type, day) cell, stored once,
    * then ANY coarser rollup merges the partials by set union without
    * ever rescanning the facts — and unlike the HLL sibling
    * (x_hll_merge), the merge is EXACT. The emitted
    * `daily_distinct_sum` (the naive additive rollup of per-day
    * distincts) sits beside the merged `distinct_exact` precisely to
    * show why bitmaps exist: distinct counts don't add — repeat users
    * double-count — but bitmap unions don't. Scale shape: the facts are
    * touched by ONE partial+final agg whose map side dedups into
    * hash-set buffers before encoding (delta-varint, ~1 byte/id on
    * dense domains); the rollup stage consumes cell-sized partials
    * only.
    */
  def bitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Bitmap
    val perDay = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"), col("user_id"))
      .groupBy("event_type", "day")
      .agg(udaf(Bitmap.build, org.apache.spark.sql.Encoders.scalaLong)
        .apply(col("user_id")).as("bm"))
    perDay
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("bm.n")).as("daily_distinct_sum"),
        udaf(Bitmap.mergeCount, org.apache.spark.sql.Encoders.BINARY)
          .apply(col("bm.bytes")).as("distinct_exact"))
      .orderBy("event_type")
  }

  /** X-FRESHNESS: per-stream ingestion freshness + calendar completeness
    * audit — the table an on-call pipeline dashboard renders before
    * anything downstream is trusted (the reference's whole loader exists
    * to keep yesterday's partition fresh; this is the check that it
    * DID): per event_type the first/last observed event day, how many
    * days behind the freshest stream it runs (`lag_days` — an alerting
    * threshold at 100 TB, where one stalled upstream topic silently
    * freezes a type), and whether the covered span is gap-free
    * (`n_missing_days` + integer-ppm completeness — X-GAPFILL repairs
    * gaps, this one REPORTS them, per stream, without materializing a
    * spine). Scale shape: facts are touched by ONE partial+final agg to
    * (type, day) cells — map-side combine collapses each partition to
    * its distinct day cells, so the exchange carries cells, never
    * events — then everything is a per-type fold over ≤ types·days rows
    * against a broadcast one-row global max. All outputs are exact
    * integers/dates; the one division is integer ppm.
    */
  def freshness(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
    val perType = cells.groupBy("event_type")
      .agg(
        sum("n").as("n_events"),
        min("day").as("first_day"),
        max("day").as("last_day"),
        count(lit(1)).as("n_active_days"))
    val freshest = perType.agg(max("last_day").as("global_last_day"))
    perType.crossJoin(broadcast(freshest))
      .select(
        col("event_type"), col("n_events"), col("first_day"), col("last_day"),
        col("n_active_days"),
        datediff(col("global_last_day"), col("last_day")).cast("long").as("lag_days"),
        (datediff(col("last_day"), col("first_day")) + 1).cast("long").as("span_days"),
        ((datediff(col("last_day"), col("first_day")) + 1).cast("long")
          - col("n_active_days")).as("n_missing_days"),
        expr("n_active_days * 1000000 div (datediff(last_day, first_day) + 1)")
          .as("completeness_ppm"))
      .orderBy("event_type")
  }
}
