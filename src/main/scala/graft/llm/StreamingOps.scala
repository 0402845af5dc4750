package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scope, Session, Tables}

/** Streaming ingestion operators beyond windowed aggregation (SURVEY.md
  * §2.7 streaming family): at-least-once dedup and stream-stream joins —
  * the two stateful-streaming shapes a continuous training-data pipeline
  * needs between "load" and "aggregate".
  */
object StreamingOps {

  /** Stage `events.parquet` into a landing zone, `copies` times (each
    * copy a distinct file — the at-least-once delivery the reference's
    * append-only sink produces on retry, main.py:81-91). The staging is
    * deterministic per (sfDir, tag), so it is built once per process:
    * repeated runs (bench passes) reuse the files instead of re-copying
    * the fixture every time. The per-run `work` dir holds only the
    * checkpoint and sink — those MUST stay fresh (a reused checkpoint
    * would drain nothing on later runs). Returns (workDir, srcDir).
    */
  private def stage(sfDir: String, tag: String, copies: Int): (java.nio.file.Path, java.nio.file.Path) = {
    val work = graft.etl.Scratch.workDir(tag + "_")
    val srcDirS = graft.etl.Sink.scratchPath(sfDir, s"events_stream_$tag")
    val srcDir = java.nio.file.Paths.get(srcDirS)
    graft.etl.Scratch.once(srcDirS) {
      (1 to copies).foreach { i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(sfDir, "events.parquet"),
          srcDir.resolve(s"events_$i.parquet"))
      }
    }
    (work, srcDir)
  }

  /** A streaming scan of the staged landing zone with event-time `ts`. */
  private def eventStream(spark: SparkSession, sfDir: String, srcDir: java.nio.file.Path): DataFrame = {
    val rawSchema = Tables.eventsRaw(spark, sfDir).schema
    Tables.eventsRawStream(spark, rawSchema, srcDir.toString)
      .withColumn("ts", expr(Tables.tsTimestampExpr(rawSchema)))
  }

  /** X-STREAM-DEDUP: streaming exact deduplication — the stateful
    * `dropDuplicatesWithinWatermark` operator. The reference's sink is
    * at-least-once (a retried load appends the same rows again,
    * main.py:81-91; q_idem locks that in), so the downstream consumer
    * owns dedup. Here the landing zone is staged with every event
    * delivered TWICE; the stream drops duplicates by `event_id` keyed
    * state, and state is evicted once the watermark passes an id's event
    * time — bounded memory on an unbounded stream (a plain
    * `dropDuplicates` would keep every id forever). Deduped rows land in
    * a parquet file sink (executors write; append mode emits
    * immediately — dedup is row-local, no window to finalize), and the
    * batch rollup of the sink must equal the SINGLE-copy aggregate: the
    * oracle reads the original table once.
    */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val (work, srcDir) = stage(sfDir, "stream_dedup", copies = 2)
    val deduped = eventStream(spark, sfDir, srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    // srcDir is shared scratch staging — it outlives this run. Partition
    // count derived from the staged batch volume (fixture floor 4)
    graft.streaming.Drain.toParquet(deduped, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(srcDir)))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  /** X-STREAM-ENRICH: stream–static enrichment join — the third join
    * shape Structured Streaming supports beside stream-stream
    * ([[streamingJoin]]) and windowed aggregation: an unbounded stream
    * joined against a bounded dimension. STATELESS by construction — no
    * watermark, no state store, nothing buffers; the dim broadcasts and
    * every micro-batch is a map-side hash join, so at 100 TB/day the
    * stream never shuffles at all. The dim derives per-type weights from
    * the type string (x_skew_join's dim), so the oracle is the identical
    * plain batch join over the single-copy table.
    */
  def streamingEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val (work, srcDir) = stage(sfDir, "stream_enrich", copies = 1)
    val dim = Tables.events(spark, sfDir)
      .select(col("event_type")).distinct()
      .withColumn("weight", (length(col("event_type")) % 5 + 1).cast("long"))
    val enriched = eventStream(spark, sfDir, srcDir)
      .join(broadcast(dim), "event_type")
      .select(col("event_type"), col("weight"), col("value"))
    graft.streaming.Drain.toParquet(enriched, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(srcDir)))
      .groupBy("event_type", "weight")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2)) * col("weight"))
          .cast("double").as("weighted_value"))
      .orderBy("event_type")
  }

  /** Attribution window: a purchase credits a signup within 7 days. */
  val AttributionWindow = "7 days"

  /** X-STREAM-JOIN: stream-stream INNER join with event-time range
    * bounds — purchase events join the same user's signup events where
    * `signup_ts <= purchase_ts <= signup_ts + 7 days` (ad-attribution
    * shape: the conversion lag the reference's `action_attribution_windows`
    * API field asks Facebook for, computed natively here). Both sides are
    * watermarked and the join condition bounds event-time distance, so
    * each side's buffered state is a sliding ~8-day slice, not the whole
    * stream — THE requirement for an unbounded 100 TB stream. Inner-join
    * matches emit as they arrive (no window finalization wait); the
    * per-day rollup of the sink is batch. Oracle: the identical range
    * join in plain SQL over the single-copy table.
    */
  def streamingJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (work, srcDir) = stage(sfDir, "stream_join", copies = 1)
    val signups = eventStream(spark, sfDir, srcDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val purchases = eventStream(spark, sfDir, srcDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"interval $AttributionWindow"))
    // srcDir is shared scratch staging — it outlives this run
    graft.streaming.Drain.toParquet(joined, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(srcDir)))
      .groupBy(col("purchase_ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_attributed"),
        countDistinct("p_user").as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("attributed_value"))
      .orderBy("day")
  }

  /** X-STREAM-LATE: late-data observability — how many late rows the
    * watermark discarded, as a CHECKED result: the streaming twin of
    * X-OBSERVE's batch metrics (a pipeline that silently drops late
    * events is how a revenue dashboard undercounts with no alarm; this
    * row is the alarm). The landing zone replays three pinned
    * micro-batches (`maxFilesPerTrigger = 1`, explicit mtimes): the
    * full table, a far-future watermark sentinel, then the ENTIRE FIRST
    * DAY re-delivered — by then the watermark sits past every real
    * window, so the re-delivery is provably 100 % late and the drop
    * count is exact and deterministic, not timing-dependent. The drop
    * count is derived as engine-reported `numInputRows` minus the
    * sentinel minus the rows that reached the sink — NOT from
    * `numRowsDroppedByWatermark`, which only counts late rows reaching
    * a state store while the derived watermark filter ahead of it
    * removes the rest uncounted (measured here: 5 of 364). If the
    * engine ever failed to drop the late rows, both the rollup and the
    * derived count would shift and the oracle row would mismatch. The
    * oracle recomputes all three from the single-copy table
    * (`n_dropped` = the day-1 row count).
    */
  def streamingLateMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.eventsRaw(spark, sfDir)
    val rawSchema = raw.schema
    val work = graft.etl.Scratch.workDir("stream_late_")
    val bounds = raw.selectExpr(Tables.tsMicrosExpr(rawSchema) + " AS us")
      .agg(min("us").as("mn"), max("us").as("mx")).head()
    val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
    val dayUs = 86400000000L
    val lateCutUs = (minUs / dayUs + 1) * dayUs // end of the first day (UTC)
    val srcDirS = graft.etl.Sink.scratchPath(sfDir, "events_stream_late")
    val srcDir = java.nio.file.Paths.get(srcDirS)
    graft.etl.Scratch.once(srcDirS) {
      val main = srcDir.resolve("batch1.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, "events.parquet"), main)
      java.nio.file.Files.setLastModifiedTime(main,
        java.nio.file.attribute.FileTime.fromMillis(1000))
      graft.etl.Scratch.stageFile(
        Events.watermarkSentinel(spark, rawSchema, maxUs + 4L * 24 * 3600 * 1000000L),
        srcDir.resolve("batch2.parquet"), 2)
      graft.etl.Scratch.stageFile(raw.filter(
        expr(Tables.tsMicrosExpr(rawSchema)) < lateCutUs), srcDir.resolve("batch3.parquet"), 3)
    }
    val stream = Tables.eventsRawStream(spark, rawSchema, srcDir.toString,
        "maxFilesPerTrigger" -> "1")
      .withColumn("ts", expr(Tables.tsTimestampExpr(rawSchema)))
      .withWatermark("ts", "1 hour")
      // sentinel dropped by a predicate on the WATERMARK column — a
      // non-watermark predicate would be pushed below the watermark node
      .filter(col("ts") <= timestamp_micros(lit(maxUs)))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"))
    val (sink, stats) = graft.streaming.Drain.toParquetWithStats(
      stream, work, shufflePartitions = Some(
        graft.streaming.Drain.adaptivePartitions(srcDir, perTriggerFiles = Some(1))))
    sink.agg(count(lit(1)).as("n_cells"), sum("n").as("n_events"))
      .select(col("n_cells"), col("n_events"),
        (lit(stats.inputRows) - 1L - col("n_events")).as("n_dropped"))
  }

  /** X-STREAM-JOIN-OUTER: stream-stream LEFT OUTER join with event-time
    * range bounds — [[streamingJoin]]'s inner join answers "which
    * purchases were attributed"; the OUTER join answers the question a
    * revenue pipeline actually ships: EVERY purchase, attributed or
    * not, with the unattributed tail quantified per day. Outer
    * stream-stream rows cannot emit on arrival — an unmatched purchase
    * is only provably unmatched once the SIGNUP side's watermark passes
    * its whole match window — so emission is watermark-driven and state
    * per side stays a bounded ~8-day slice, exactly the inner join's
    * bound plus the deferred-emission wait.
    *
    * A finite fixture would end with the watermark short of the last
    * purchases' match windows, silently swallowing their outer rows, so
    * the staged landing zone carries one typed SENTINEL per side
    * (streamingDaily's technique): a far-future signup (+40 d) and
    * purchase (+20 d) with negative user ids. Each passes its side's
    * TYPE filter, drives the global watermark past every real window
    * (min(40, 20) d − 1 h), and cannot join anything real (negative
    * ids, disjoint timestamps — purchase sentinel 20 d BEFORE the
    * signup one, and its own outer row never emits: +20 d + 7 d is
    * past the global watermark).
    *
    * The sentinel-exclusion predicate MUST be on the WATERMARK column
    * (`purchase_ts <= max real ts`): a post-join filter on the USER
    * ids is pushed below the left watermark node — and via constraint
    * inference through the equi-condition below the RIGHT one too — so
    * the sentinels would be dropped before ever advancing either
    * watermark, silently swallowing the final hour's outer rows
    * (caught at sf0.1: two last-day unmatched purchases missing).
    * Oracle: the identical LEFT JOIN in plain SQL over the single-copy
    * table.
    */
  def streamingJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val work = graft.etl.Scratch.workDir("stream_join_outer_")
    val raw = Tables.eventsRaw(spark, sfDir)
    val rawSchema = raw.schema
    val maxUs = raw.selectExpr(Tables.tsMicrosExpr(rawSchema) + " AS us")
      .agg(max("us")).head().getLong(0)
    val srcDirS = graft.etl.Sink.scratchPath(sfDir, "events_stream_join_outer")
    val srcDir = java.nio.file.Paths.get(srcDirS)
    graft.etl.Scratch.once(srcDirS) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, "events.parquet"),
        srcDir.resolve("events.parquet"))
      val dayUs = 24L * 3600 * 1000000L
      Events.watermarkSentinel(spark, rawSchema, maxUs + 40 * dayUs, -1L, "signup")
        .unionAll(Events.watermarkSentinel(spark, rawSchema, maxUs + 20 * dayUs, -2L, "purchase"))
        .coalesce(1).write.mode("append").parquet(srcDirS)
    }
    def side(typ: String) = Tables.eventsRawStream(spark, rawSchema, srcDir.toString)
      .withColumn("ts", expr(Tables.tsTimestampExpr(rawSchema)))
      .filter(col("event_type") === typ)
    val signups = side("signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val purchases = side("purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(signups,
        col("p_user") === col("s_user") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr(s"interval $AttributionWindow"),
        "left_outer")
      // sentinel exclusion via the WATERMARK column only (see Scaladoc):
      // every real purchase has purchase_ts <= maxUs; both sentinels are
      // far past it, and a user-id predicate here would be pushed below
      // the watermark nodes and neutralize them
      .filter(col("purchase_ts") <= timestamp_micros(lit(maxUs)))
    graft.streaming.Drain.toParquet(joined, work,
      shufflePartitions = Some(graft.streaming.Drain.adaptivePartitions(srcDir)))
      .groupBy(col("purchase_ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("s_user").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("s_user").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        sum(when(col("s_user").isNull, col("value").cast(DecimalType(18, 2)))
          .otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("unattributed_value"))
      .orderBy("day")
  }

  // ---- streaming inter-arrival anomaly detection (X-STREAM-ANOMALY) ----

  /** Anomaly flagging starts after this many observed gaps per type —
    * the z-score is meaningless on a handful of samples.
    */
  val AnomalyWarmup = 30L

  /** Squared z threshold (3σ). */
  val AnomalyZsq = 9L

  /** X-STREAM-ANOMALY: sequential inter-arrival anomaly detection — the
    * continuous "is this feed stalling or bursting?" monitor: per event
    * type the stream maintains running EXACT integer moments (n, Σg, Σg²)
    * of the inter-arrival gap in whole seconds, and flags an event whose
    * gap-from-previous deviates from the moments SO FAR by more than 3σ.
    * The z² test runs entirely in integers — z² > T ⟺
    * (n·g − S)² > T·(n·Q − S²), both sides exact (products evaluated in
    * BigInt; the stored counters are exact longs good to ~10^18, wide
    * enough for millennia of per-type gaps) — so the stream and the
    * batch-prefix oracle agree bit for bit. Moments use PRIOR gaps only
    * (the sequential monitor has nothing else at decision time), then
    * absorb the gap — exactly a prefix window `ROWS … AND 1 PRECEDING`
    * in the mirror.
    *
    * Ordering: the state transition is order-sensitive by nature, so the
    * source is the chronologically-chunked staging (one chunk per
    * micro-batch, (ts, event_id)-contiguous) with the within-batch sort
    * on the same key — the X-STREAM-ATTRIB replay discipline. State is
    * event-type-cardinality-bounded (a handful of tuples), so NoTimeout
    * is safe — there is nothing to evict.
    */
  def streamingAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val work = graft.etl.Scratch.workDir("stream_anomaly_")
    val srcDir = Events.chunkedEventStaging(spark, sfDir)
    val rawSchema = Tables.eventsRaw(spark, sfDir).schema
    val ds = Tables.eventsRawStream(spark, rawSchema, srcDir.toString,
        "maxFilesPerTrigger" -> "1")
      .selectExpr("event_type",
        Tables.tsMicrosExpr(rawSchema) + " AS us",
        "coalesce(event_id, 0L) AS event_id")
      .as[(String, Long, Long)]
    val flagged = anomalyStream(ds).toDF("event_type", "event_id")
    val drained = graft.streaming.Drain.toParquet(flagged, work,
      shufflePartitions = Some(
        graft.streaming.Drain.adaptivePartitions(srcDir, perTriggerFiles = Some(1))))
    val perType = drained.groupBy("event_type")
      .agg(count(lit(1)).as("n_flagged"), sum("event_id").as("flagged_id_sum"))
    val totals = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
    totals.join(perType, Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("flagged_id_sum"), lit(0L)).as("flagged_id_sum"))
      .orderBy("event_type")
  }

  /** The stateful gap-monitor transform over (event_type, us, event_id)
    * rows — separated from [[streamingAnomaly]]'s staging so a spec can
    * drive it with its own source. Emits (event_type, event_id) per
    * flagged event on arrival.
    */
  def anomalyStream(ds: org.apache.spark.sql.Dataset[(String, Long, Long)])
      : org.apache.spark.sql.Dataset[(String, Long)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long), (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, evs: Iterator[(String, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long)]) =>
          // state: (prev event µs, n gaps, Σ gap, Σ gap²) — prev==MinValue
          // marks "no event seen yet"
          var (pu, n, s, q) = state.getOption
            .getOrElse((Long.MinValue, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          evs.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, eid) =>
            if (pu != Long.MinValue) {
              val g = (us - pu) / 1000000L // chronological replay: nonneg
              if (n >= AnomalyWarmup) {
                val lhs = (BigInt(n) * g - s).pow(2)
                val rhs = BigInt(AnomalyZsq) * (BigInt(n) * q - BigInt(s).pow(2))
                if (lhs > rhs) out += ((typ, eid))
              }
              n += 1; s += g; q += g * g
            }
            pu = us
          }
          state.update((pu, n, s, q))
          out.iterator
      }
  }

  /** X-STREAM-KMV: cross-batch mergeable-sketch state — the KMV
    * distinct-count sketch (X-KMV) maintained INSIDE `GroupState` while
    * the events replay as four chronological chunks, the shape a
    * continuous pipeline uses to keep per-key cardinality live without
    * ever holding the user set: state per event type is the ≤
    * [[Events.KmvK]] smallest distinct user-hash values (BOUNDED,
    * mergeable — exactly why production streaming picks an order-statistic
    * sketch over a distinct set). Each micro-batch merges its hashes and
    * emits the running (k_used, kth_hash). Only k_used is monotone
    * outright; kth_hash GROWS while the sketch is unsaturated (the state
    * then holds every hash seen, so its max rises with new arrivals) and
    * shrinks only once k_used = K. The final sketch is therefore
    * recovered from the drained emissions as the lexicographic argmax of
    * (k_used, -kth_hash): max k_used first (for a fixed k_used < K the
    * kth value is constant across emissions, since any new distinct hash
    * would bump k_used), then min kth_hash to pick the latest saturated
    * refinement — no "last batch" bookkeeping, and no dependence on
    * whether a type saturates in its first chunk. Because an order
    * statistic of a set is
    * batching-independent, it must equal the batch formulation exactly:
    * the oracle recomputes the same k smallest distinct hashes in SQL.
    * The estimator is the sketch's own saturation-blind form (k_used <
    * K ⇒ exact count; at k_used = K the Bar-Yossef estimate — the one
    * case it diverges from X-KMV's set-aware branch, mirrored as such).
    * The `__wm__` staging sentinel is filtered out before the sketch.
    */
  def streamingKmv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val work = graft.etl.Scratch.workDir("stream_kmv_")
    val srcDir = Events.chunkedEventStaging(spark, sfDir)
    val rawSchema = Tables.eventsRaw(spark, sfDir).schema
    val ds = Tables.eventsRawStream(spark, rawSchema, srcDir.toString,
        "maxFilesPerTrigger" -> "1")
      .filter(col("event_type") =!= "__wm__")
      .select(col("event_type"),
        graft.functions.PolyHash.poly_hash(col("user_id").cast("string"),
          Events.KmvBase).as("h"))
      .as[(String, Long)]
    val sketched = kmvStream(ds).toDF("event_type", "k_used", "kth_hash")
    val drained = graft.streaming.Drain.toParquet(sketched, work,
      shufflePartitions = Some(
        graft.streaming.Drain.adaptivePartitions(srcDir, perTriggerFiles = Some(1))))
    recoverKmvFinal(drained)
      .withColumn("est_distinct",
        when(col("k_used") < Events.KmvK, col("k_used").cast("double"))
          .otherwise(
            lit((Events.KmvK - 1).toLong * graft.functions.PolyHashing.Mod)
              .cast("double") / col("kth_hash").cast("double")))
      .orderBy("event_type")
  }

  /** Recovers the FINAL per-type sketch from the drained micro-batch
    * emissions: lexicographic argmax of (k_used, -kth_hash). The first
    * key dominates because k_used only grows; among emissions sharing
    * the maximal k_used, kth_hash is constant when k_used < K (any new
    * distinct hash would have bumped k_used) and shrinking when
    * k_used = K, so min kth picks the latest refinement. Separated from
    * [[streamingKmv]] so a spec can exercise the unsaturated-type case
    * (k_used never reaching K) that the fixture's dense types hide.
    */
  def recoverKmvFinal(drained: DataFrame): DataFrame =
    drained.groupBy("event_type")
      // hash values are positive (mod-2^31 poly hash) so negation is a
      // safe total-order flip inside the struct max
      .agg(max(struct(col("k_used"), (-col("kth_hash")).as("neg_kth")))
        .as("s"))
      .select(col("event_type"), col("s.k_used").as("k_used"),
        (-col("s.neg_kth")).as("kth_hash"))

  /** Build-once scratch staging for [[streamingNearDup]]: the
    * persisted LSH artifacts (the full corpus's band index + signature
    * table — what a production pipeline keeps on storage between ingest
    * days) and the DELTA documents (doc_id % 10 == 0, x_dedup_incr's
    * membership) split into 4 chronological chunk files with pinned
    * mtimes so `maxFilesPerTrigger=1` replays them as 4 micro-batches.
    */
  private[graft] def nearDupStaging(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val rootS = graft.etl.Sink.scratchPath(sfDir, "stream_neardup")
    val root = java.nio.file.Paths.get(rootS)
    graft.etl.Scratch.once(rootS) {
      val sigs = Dedup.signatureTable(spark, sfDir)
      sigs.write.parquet(root.resolve("sigs").toString)
      Dedup.bandsOf(sigs).write.parquet(root.resolve("bands").toString)
      val delta = Tables.documents(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(10L)) === 0L)
      (0 until 4).foreach { i =>
        graft.etl.Scratch.stageFile(
          delta.filter(pmod(expr("doc_id div 10"), lit(4L)) === i.toLong),
          root.resolve(s"chunks/chunk$i.parquet"), i)
      }
    }
    root
  }

  /** X-STREAM-NEARDUP: ingest-time near-duplicate detection against the
    * PERSISTED LSH band index — the streaming sibling of
    * [[streamingDedup]]'s exact-id dedup and the production shape of
    * [[Dedup.dedupIncremental]]: a live pipeline cannot re-band history
    * per micro-batch, and never needs to — new documents are shingled,
    * signed and banded INSIDE the micro-batch loop (`foreachBatch`), and
    * ONE band equi-join against the persisted index yields every
    * candidate pair touching the batch; signature agreement against the
    * persisted signature table scores them. Cost per batch ∝ batch size
    * (the banding is a narrow map over batch rows; the index join is
    * band-keyed with the batch side broadcastable), never ∝ corpus.
    *
    * The delta replays as 4 chronological chunks so pairs genuinely
    * arrive across micro-batch boundaries; a delta-delta pair is found
    * from EITHER endpoint's batch (the at-least-once shape of an
    * append-only pair log), so the rollup dedups on the normalized pair
    * key. Output — and oracle — are exactly x_dedup_incr's: the full
    * banded pair set restricted to pairs touching the delta, with the
    * same signature-agreement estimate, proving batch ≡ stream
    * (spec-asserted row-for-row).
    */
  def streamingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val root = nearDupStaging(spark, sfDir)
    val work = graft.etl.Scratch.workDir("stream_neardup_")
    val outDir = work.resolve("out").toString
    val docSchema = Tables.documents(spark, sfDir).schema
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(root.resolve("chunks").toString)
    // persisted index sides: ONE analyzed + cached instance serves every
    // micro-batch — the per-batch `ss.read.parquet(...)` form re-listed,
    // re-analyzed and re-scanned both lake tables on every trigger for
    // frames that are immutable across the whole drain (guide §6 file
    // listing / §5 caching). Released when the drain finishes.
    Scope.run { drain =>
      val idx = drain.keep(spark.read.parquet(root.resolve("bands").toString))
      val sigTbl = drain.keep(spark.read.parquet(root.resolve("sigs").toString))
      // per-batch shuffle sizing: the candidate-pair distinct shuffles
      // inside every micro-batch — count derived from the staged chunk
      // volume (fixture floor 4, scales up with batch bytes), pinned on
      // the session the stream starts from
      val ss = graft.streaming.Drain.batchSession(spark,
        graft.streaming.Drain.adaptivePartitions(
          root.resolve("chunks"), perTriggerFiles = Some(1)))
      val (idxS, sigTblS) = (Session.in(ss, idx), Session.in(ss, sigTbl))
      val q = Session.in(ss, stream).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // sign + band ONLY the batch (no .cache(): micro-batch frames are
          // single-consumer here and a per-batch cache entry would leak)
          nearDupBatchPairs(nearDupBatchSigs(batch), idxS, sigTblS)
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally graft.streaming.Drain.stop(q, Some(ss))
    }
    graft.streaming.Drain.deleteRecursively(work.resolve("ckpt"))
    // a delta-delta pair surfaces from both endpoints' batches with the
    // SAME signature-agreement estimate; the pair log dedups on the key
    spark.read.parquet(outDir).dropDuplicates("id_a", "id_b")
  }

  /** MinHash-sign one micro-batch (narrow map over batch rows). */
  private[graft] def nearDupBatchSigs(batch: DataFrame): DataFrame =
    batch
      .select(col("doc_id"), Dedup.shingleHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(col("hs")).as("sig"))

  /** One micro-batch of the near-dup probe: band the batch signatures,
    * join them against the PERSISTED band index, and score every
    * candidate pair by signature agreement. The batch side is pinned
    * `broadcast()` at BOTH joins — the bands probe and the pair-scoring
    * lookups — so the persisted index/signature tables are never
    * shuffled per micro-batch (the batch-side-broadcast claim is the
    * PLAN, not the estimator's choice; the x_stream_neardup spec asserts
    * it). Separated from the stream wiring so that spec can fingerprint
    * the per-batch plan directly.
    */
  private[graft] def nearDupBatchPairs(
      batchSigs: DataFrame, idx: DataFrame, sigTbl: DataFrame): DataFrame = {
    val pairs = broadcast(Dedup.bandsOf(batchSigs)).as("l")
      .join(idx.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") =!= col("r.doc_id"))
      .select(
        least(col("l.doc_id"), col("r.doc_id")).as("id_a"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("id_b"))
      .distinct()
    val withA = broadcast(pairs)
      .join(sigTbl.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
    broadcast(withA)
      .join(sigTbl.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / Dedup.NumHashes).as("est_jaccard"))
  }

  /** Build-once scratch staging for [[streamingSimIngest]]: the
    * persisted BASE inverted file + the frozen centroid model (what an
    * ANN store keeps on storage between ingest days) and the DELTA
    * vectors (vec_id ≡ 7 mod 10, x_sim_incr's membership) split into 4
    * chronological chunks with pinned mtimes for the micro-batch replay.
    */
  private def simIngestStaging(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val rootS = graft.etl.Sink.scratchPath(sfDir, "stream_sim")
    val root = java.nio.file.Paths.get(rootS)
    graft.etl.Scratch.once(rootS) {
      val emb = Tables.embeddings(spark, sfDir)
      val (baseCells, _) = Similarity.incrIndexParts(emb)
      baseCells.write.parquet(root.resolve("base").toString)
      Similarity.centroidModelRows(emb).write.parquet(root.resolve("cents").toString)
      val delta = emb.filter(Similarity.isDeltaVec(col("vec_id")))
      (0 until 4).foreach { i =>
        graft.etl.Scratch.stageFile(
          delta.filter(pmod(expr("vec_id div 10"), lit(4L)) === i.toLong),
          root.resolve(s"chunks/chunk$i.parquet"), i)
      }
    }
    root
  }

  /** X-STREAM-SIM: streaming ANN index ingest — the streaming sibling of
    * [[Similarity.simIncrTopKOf]]'s batch append, the way a production
    * vector store actually takes deltas: each micro-batch of new vectors
    * is assigned to its IVF cell against the FROZEN broadcast centroid
    * model (map-only — per-vector assignment is independent, so cost per
    * batch ∝ batch size, never ∝ corpus) and appended to the persisted
    * inverted file inside `foreachBatch`. The post-drain serve runs over
    * base ∪ streamed appends through the shared
    * [[Similarity.serveIncrMerged]]; because assignment is deterministic
    * per vector, the streamed index is VALUE-IDENTICAL to the batch
    * delta append AND to a full re-index — output and oracle are exactly
    * x_sim_incr's (batch ≡ stream, spec-asserted row-for-row). The
    * append-only posting log is at-least-once under retry, so the serve
    * dedups on vec_id (each vector lives in exactly one cell — the
    * normalized-key rollup, [[streamingNearDup]]'s discipline).
    */
  def streamingSimIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val root = simIngestStaging(spark, sfDir)
    val work = graft.etl.Scratch.workDir("stream_sim_")
    val outDir = work.resolve("out").toString
    val embSchema = Tables.embeddings(spark, sfDir).schema
    val stream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(root.resolve("chunks").toString)
    // frozen centroid model: ONE analyzed + cached instance serves every
    // micro-batch (the per-batch read re-listed + re-analyzed + re-scanned
    // an immutable dim per trigger); released when the drain finishes
    Scope.run { drain =>
      val cents = drain.keep(spark.read.parquet(root.resolve("cents").toString))
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // assign ONLY the batch against the frozen model and append the
          // (vec_id, embedding, nrm, cent_id) postings
          Similarity.assignToModel(batch, cents)
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally graft.streaming.Drain.stop(q, None)
    }
    graft.streaming.Drain.deleteRecursively(work.resolve("ckpt"))
    val cells = spark.read.parquet(root.resolve("base").toString)
      .unionByName(spark.read.parquet(outDir).dropDuplicates("vec_id"))
    Similarity.serveIncrMerged(
      Tables.embeddings(spark, sfDir), cells, Similarity.QueryStride)
  }

  /** Build-once scratch staging for [[streamingMediaIngest]]: the FULL
    * documents table split into 4 chronological chunks with pinned
    * mtimes (every doc arrives exactly once — the media landing zone).
    */
  private def mmStaging(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val rootS = graft.etl.Sink.scratchPath(sfDir, "stream_mm")
    val root = java.nio.file.Paths.get(rootS)
    graft.etl.Scratch.once(rootS) {
      val docs = Tables.documents(spark, sfDir)
      (0 until 4).foreach { i =>
        graft.etl.Scratch.stageFile(
          docs.filter(pmod(col("doc_id"), lit(4L)) === i.toLong),
          root.resolve(s"chunks/chunk$i.parquet"), i)
      }
    }
    root
  }

  /** X-STREAM-MM: streaming media-ingest digest dedup — the media
    * landing zone replays as 4 micro-batches; each batch digests its
    * payloads INSIDE `foreachBatch` (narrow map over batch rows — at
    * scale the payload bytes are read once, here, and never again) and
    * appends only (doc_id, source, digest, byte length) to the manifest
    * log — 16-byte digests shuffle, payloads never do. The post-drain
    * rollup over the deduped log (vec-keyed at-least-once discipline) is
    * exactly [[Multimodal.payloadDedup]]'s manifest: batch ≡ stream,
    * same oracle (X-STREAM-DEDUP's contract applied to the media face).
    */
  def streamingMediaIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val root = mmStaging(spark, sfDir)
    val work = graft.etl.Scratch.workDir("stream_mm_")
    val outDir = work.resolve("out").toString
    val docSchema = Tables.documents(spark, sfDir).schema
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(root.resolve("chunks").toString)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Multimodal.withPayload(batch)
          .select(col("doc_id"), col("source"),
            md5(col("payload")).as("payload_md5"),
            length(col("payload")).cast("long").as("n_bytes"))
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally graft.streaming.Drain.stop(q, None)
    graft.streaming.Drain.deleteRecursively(work.resolve("ckpt"))
    spark.read.parquet(outDir).dropDuplicates("doc_id")
      .groupBy("payload_md5")
      .agg(
        count(lit(1)).as("n_copies"),
        min("doc_id").as("keeper_id"),
        countDistinct("source").as("n_sources"),
        sum("n_bytes").as("bytes_total"))
  }

  /** Build-once scratch staging for [[streamingAnnDelete]]: the
    * deletion REQUESTS (vec_id ≡ DeleteRem mod DeleteMod —
    * x_ann_delete's victim membership, so the streamed purge grades
    * against the same CoW answer) split into 4 chronological chunk
    * files with pinned mtimes for the micro-batch replay.
    */
  private[graft] def annDeleteStaging(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    import graft.queries.AnnServe.{DeleteMod, DeleteRem}
    val rootS = graft.etl.Sink.scratchPath(sfDir, "stream_ann_delete")
    val root = java.nio.file.Paths.get(rootS)
    graft.etl.Scratch.once(rootS) {
      val victims = Tables.embeddings(spark, sfDir)
        .filter(pmod(col("vec_id"), lit(DeleteMod)) === DeleteRem)
        .select("vec_id")
      (0 until 4).foreach { i =>
        graft.etl.Scratch.stageFile(
          victims.filter(pmod(expr(s"vec_id div $DeleteMod"), lit(4L)) === i.toLong),
          root.resolve(s"chunks/chunk$i.parquet"), i)
      }
    }
    root
  }

  /** X-STREAM-ANN-DELETE: streamed opt-out deletion against the serving
    * ANN index — the continuous form of X-ANN-DELETE, the way a
    * production vector store takes compliance requests: each micro-batch
    * of victim ids appends to a TOMBSTONE log inside `foreachBatch`
    * (narrow map, cost per batch ∝ batch size; the at-least-once append
    * is harmless — a duplicate tombstone anti-joins identically), the
    * index files stay byte-untouched, and every serve anti-joins the log
    * into the shared ADC probe ([[graft.queries.AnnServe.tombstoneServe]])
    * so a victim stops serving the moment its batch commits — no
    * rewrite on the request path. Compaction later folds the log into
    * the index CoW-style and drops it
    * ([[graft.queries.AnnServe.applyTombstones]], spec-proven to leave
    * zero tombstones and only rewrite affected cells). The post-drain
    * serve must equal x_ann_delete's copy-on-write answer row for row
    * (batch ≡ stream; same oracle — the full PQ chain with the deletion
    * set excluded).
    */
  def streamingAnnDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val root = annDeleteStaging(spark, sfDir)
    val work = graft.etl.Scratch.workDir("stream_ann_delete_")
    val tombDir = work.resolve("tombstones").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", org.apache.spark.sql.types.LongType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(root.resolve("chunks").toString)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("vec_id").write.mode("append").parquet(tombDir)
      }
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally graft.streaming.Drain.stop(q, None)
    graft.streaming.Drain.deleteRecursively(work.resolve("ckpt"))
    graft.queries.AnnServe.tombstoneServe(spark, sfDir, tombDir)
  }

  // ---- streaming curation funnel (X-STREAM-PIPELINE) -------------------

  /** Exact-dedup hash triple of a document frame — the same 24-byte
    * (64-bit rolling, 31-bit poly, length) key as Pipeline stage 2, so
    * the streamed exact-dedup decisions are the batch funnel's.
    */
  private def pipeTriples(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.RollingHash.rolling_hash(col("text")).as("eh64"),
      graft.functions.PolyHash.poly_hash(col("text"), 137).as("eh31"),
      length(col("text")).cast("long").as("n_chars"))

  /** Build-once staging for [[streamingPipeline]]: the LAKE state a
    * curation service keeps between ingest days — the base corpus's
    * exact-hash triples, LSH band index and signature table (doc_id ≢ 0
    * mod 10) — plus the delta documents (doc_id ≡ 0 mod 10) split into
    * 4 chronological chunks with pinned mtimes for the replay.
    */
  private def pipeStaging(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val rootS = graft.etl.Sink.scratchPath(sfDir, "stream_pipe")
    val root = java.nio.file.Paths.get(rootS)
    graft.etl.Scratch.once(rootS) {
      val docs = Tables.documents(spark, sfDir)
      val base = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
      pipeTriples(base).write.parquet(root.resolve("triples").toString)
      val baseSigs = nearDupBatchSigs(base)
      baseSigs.write.parquet(root.resolve("sigs").toString)
      Dedup.bandsOf(baseSigs).write.parquet(root.resolve("bands").toString)
      val delta = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      (0 until 4).foreach { i =>
        graft.etl.Scratch.stageFile(
          delta.filter(pmod(expr("doc_id div 10"), lit(4L)) === i.toLong),
          root.resolve(s"chunks/chunk$i.parquet"), i)
      }
    }
    root
  }

  /** X-STREAM-PIPELINE: the INGEST-TIME curation funnel — X-PIPELINE's
    * quality → exact-dedup → near-dedup chain run per micro-batch
    * against the persisted lake state, the composition a continuous
    * training-data service actually deploys (a nightly batch funnel
    * re-curates the corpus; the streaming funnel curates each delta ON
    * ARRIVAL and the lake only ever stores accepted content):
    *
    *  1. QUALITY — the x_quality_filter predicate, row-local.
    *  2. EXACT   — drop a survivor whose 24-byte hash triple exists in
    *     the lake (any base doc), arrived in an earlier batch (quality
    *     survivors log), or belongs to a smaller-id doc in the SAME
    *     batch — the min-id keeper rule under arrival order.
    *  3. NEAR    — sign + band only the batch ([[nearDupBatchSigs]]'s
    *     narrow map) and probe the persisted base band index PLUS the
    *     streamed-survivor band log PLUS the batch itself (smaller ids
    *     only); a signature-agreement estimate ≥ the x_dedup threshold
    *     drops the doc. The index ingests stage-2 survivors — exactly
    *     the membership the batch funnel's pairwise near-dup rule uses.
    *
    * Per batch the cost is ∝ batch size: every history join pins the
    * BATCH side `broadcast()` so the lake-sized triple/band/signature
    * tables are never shuffled per micro-batch. At-least-once replay is
    * harmless by construction: every appended row is a deterministic
    * function of its doc, so retries write identical rows and the reads
    * dedup on their keys. Output is the per-batch funnel ledger
    * (arrivals, per-stage drops, accepted mass) — the table an ingest
    * dashboard renders; the oracle re-derives every decision from the
    * chunk law (chunk = doc_id div 10 mod 4), proving batch ≡ stream.
    */
  def streamingPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val root = pipeStaging(spark, sfDir)
    val work = graft.etl.Scratch.workDir("stream_pipe_")
    // per-batch funnel ledger, keyed by chunk: every value in a ledger row
    // is already a driver-side scalar (the stage counts come back through
    // collected aggregates), so the row never needs a per-batch parquet
    // sink + end-of-run re-read — 5 write/read jobs dropped per drain.
    // At-least-once replay stays harmless: a retried batch recomputes the
    // identical deterministic row and the keyed put overwrites in place
    // (the sink's dropDuplicates("chunk") equivalent).
    val ledger = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Long, Long, Long, Long, Long)]()
    Scope.run { drain =>
      // lake state: ONE analyzed + cached instance per drain — the old
      // per-batch `ss.read.parquet(...)` form re-listed, re-analyzed and
      // re-scanned all three immutable lake tables on every trigger
      // (guide §6 file listing, §5 caching). Released at drain end.
      val baseTriples = drain.keep(spark.read.parquet(root.resolve("triples").toString))
      val baseBands = drain.keep(spark.read.parquet(root.resolve("bands").toString))
      val baseSigs = drain.keep(spark.read.parquet(root.resolve("sigs").toString))
      // run-local survivor history: the per-batch tri/bands/sigs frames are
      // already materialized (kept in the drain's scope) for the batch's
      // own joins — KEEP them across batches instead of the old
      // parquet-append + re-read cycle, which paid three commit-protocol
      // writes plus three uncached log re-scans per micro-batch (guide §6: don't round-trip through
      // storage what the process already holds). Single-process drain
      // assumption — exactly the ledger's (below). At-least-once replay
      // stays harmless precisely as with the appended logs: a retried batch
      // contributes duplicate history rows, and every history consumer is
      // duplicate-insensitive (hitKeys and dropNear end in distinct(), the
      // partner signatures feed a distinct'd pair set).
      val histTriL = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val histBandsL = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val histSigsL = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val docSchema = Tables.documents(spark, sfDir).schema
      val stream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root.resolve("chunks").toString)
      // per-batch shuffle sizing: every distinct/agg/band join below runs
      // inside the micro-batch, where the session's core-count partitioning
      // is pure per-task overhead at batch volume — count derived from the
      // staged chunk volume (fixture floor 4; scales up with batch bytes,
      // guide §2.1), pinned on the session the stream starts from.
      val ss = graft.streaming.Drain.batchSession(spark,
        graft.streaming.Drain.adaptivePartitions(
          root.resolve("chunks"), perTriggerFiles = Some(1)))
      val Seq(baseTriplesS, baseBandsS, baseSigsS) =
        Seq(baseTriples, baseBands, baseSigs).map(Session.in(ss, _))
      val q = Session.in(ss, stream).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) => Scope.run[Unit] { mb =>
          // each stage frame below is consumed by several actions (ledger
          // counts, the stage-3 banding, the cross-batch history): keep
          // the batch-sized frames once per batch, or every action
          // re-executes the whole quality+hash chain — measured, the
          // uncached form re-ran it ~12× per micro-batch. The single-consumer
          // frames (s1, s2) live in the batch's scope; the history frames
          // (tri, bands2, sigs2) in the drain's, until the drain finishes.
          // stage 1: row-local quality gate (materialized by stage 2's
          // first consumer — no dedicated count action needed anymore)
          val s1 = mb.keep(Pipeline.qualityOf(Pipeline.enrichedOf(batch))
            .select(col("doc_id"), col("text")))
          val tri = drain.keep(pipeTriples(s1))

          // stage 2: exact dedup vs lake + earlier batches + same batch.
          // the history side stays un-shuffled: probe it with the
          // broadcast batch key set, then flag batch rows off the (small)
          // hit list
          val histT = (baseTriplesS +: histTriL.toSeq).reduce(_ unionByName _)
          val keys = Seq("eh64", "eh31", "n_chars")
          // no inner distinct on the probe keys: in-batch exact dups are
          // rare, hitKeys re-distincts after the probe, and the distinct
          // was a whole extra shuffle inside the broadcast build
          val hitKeys = histT
            .join(broadcast(tri.select(keys.map(col): _*)), keys)
            .select(keys.map(col): _*).distinct()
          // keeper rule via a window over the batch rows (one batch-sized
          // exchange in the main job) instead of a groupBy + broadcast
          // join — one fewer serialized broadcast-build wave per batch
          val s2 = mb.keep(s1
            .join(tri.select(col("doc_id") +: keys.map(col): _*), Seq("doc_id"))
            .join(broadcast(hitKeys).withColumn("in_hist", lit(1L)), keys, "left")
            .withColumn("keeper_id", min("doc_id").over(
              org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
            .filter(col("in_hist").isNull && col("doc_id") === col("keeper_id"))
            .select(col("doc_id"), col("text")))

          // stage 3: near-dup vs base index + survivor history + same batch
          val sigs2 = drain.keep(nearDupBatchSigs(s2))
          val bands2 = drain.keep(Dedup.bandsOf(sigs2))
          val histBands = (baseBandsS +: histBandsL.toSeq).reduce(_ unionByName _)
          val histSigs = (baseSigsS +: histSigsL.toSeq).reduce(_ unionByName _)
          // no per-side distinct: the union below re-distincts anyway, so
          // the inner ones were two pure-overhead shuffles per micro-batch
          // (multi-band collisions only duplicate batch-sized pair rows)
          val candHist = broadcast(bands2.select(col("doc_id"), col("band"), col("bkey")))
            .as("l")
            .join(histBands.as("r"),
              col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey"))
            .select(col("l.doc_id").as("d"), col("r.doc_id").as("p"))
          val candBatch = bands2.as("l")
            .join(bands2.as("r"),
              col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
                col("r.doc_id") < col("l.doc_id"))
            .select(col("l.doc_id").as("d"), col("r.doc_id").as("p"))
          val partnerSigs = histSigs.unionByName(sigs2)
            .select(col("doc_id").as("p"), col("sig").as("sig_p"))
          val dropNear = broadcast(candHist.unionByName(candBatch).distinct())
            .join(partnerSigs, Seq("p"))
            .join(broadcast(sigs2.select(col("doc_id").as("d"), col("sig").as("sig_d"))),
              Seq("d"))
            .filter(
              (size(filter(zip_with(col("sig_d"), col("sig_p"), (x, y) => x === y), b => b))
                .cast("double") / Dedup.NumHashes) >= Dedup.NearDupThreshold)
            .select(col("d").as("doc_id")).distinct()
          // EVERY ledger aggregate in ONE action (guide §1.2 — fewer job
          // waves, the per-batch cost here is scheduled jobs, not data):
          // arrivals + stage-1 pass/fail over the batch scan, survivors
          // over s2, and the near-dup drop set's own rollup, unioned into
          // a single 3-row collect. dropNear ⊆ s2 (its ids come from
          // bands2 ⊆ sigs2 ⊆ s2) and is distinct, so the stage-3 counts
          // are exact differences — no dropNear broadcast build and no
          // flag-join job the previous separate-actions form paid.
          val aggIn = Pipeline.enrichedOf(batch)
            .agg(count(lit(1)).as("a"),
              count(when(Pipeline.qualityPred, 1)).as("b"))
            .select(lit(0L).as("k"), col("a"), col("b"))
          val aggS2 = s2
            .agg(count(lit(1)).as("a"),
              coalesce(sum("doc_id"), lit(0L)).as("b"))
            .select(lit(1L).as("k"), col("a"), col("b"))
          val aggDrop = dropNear
            .agg(count(lit(1)).as("a"),
              coalesce(sum("doc_id"), lit(0L)).as("b"))
            .select(lit(2L).as("k"), col("a"), col("b"))
          val rows = aggIn.unionAll(aggS2).unionAll(aggDrop).collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          val (nIn, nS1) = rows(0L)
          val (nS2, s2sum) = rows(1L)
          val (dropN, dropSum) = rows(2L)
          val (nS3, sumAcc) = (nS2 - dropN, s2sum - dropSum)

          // ledger row + history ingest (all deterministic per doc:
          // at-least-once retries contribute duplicate-insensitive rows)
          ledger.put(batchId, (nIn, nIn - nS1, nS1 - nS2, nS2 - nS3, nS3, sumAcc))
          histTriL += tri; histBandsL += bands2; histSigsL += sigs2
        }}
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally graft.streaming.Drain.stop(q, Some(ss))
    }
    graft.streaming.Drain.deleteRecursively(work.resolve("ckpt"))
    // the ledger is per-batch metadata (7 longs × #chunks) assembled from
    // driver-side aggregates — build the result frame directly instead of
    // the old write-per-batch parquet sink + end-of-run re-read
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    ledger.asScala.toSeq.sortBy(_._1)
      .map { case (chunk, (a, b, c, d, e, f)) => (chunk, a, b, c, d, e, f) }
      .toDF("chunk", "n_in", "n_quality_drop", "n_exact_drop",
        "n_neardup_drop", "n_accepted", "sum_accepted")
      .orderBy("chunk")
  }

  /** The per-type KMV merge transform — separated from
    * [[streamingKmv]]'s staging so a spec can drive it batch-by-batch
    * and assert the state genuinely refines ACROSS batches.
    */
  def kmvStream(ds: org.apache.spark.sql.Dataset[(String, Long)])
      : org.apache.spark.sql.Dataset[(String, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, evs: Iterator[(String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Array[Long]]) =>
          val cur = state.getOption.getOrElse(Array.empty[Long])
          // merge = k smallest of the distinct union — the sketch's ⊕
          val merged = (cur ++ evs.map(_._2)).distinct.sorted
            .take(Events.KmvK)
          state.update(merged)
          Iterator.single((typ, merged.length.toLong, merged.last))
      }
  }
}
