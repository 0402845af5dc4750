package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scope, Tables}

/** Profiling / maintenance analytics over the `events` table
  * (SURVEY.md §2.7: X-HISTOGRAM, X-INCR-AGG, X-OVERLAP) — the data-health
  * and incremental-ETL operators a 100 TB training-data pipeline runs
  * daily. All three are partial+final hash aggregates whose shuffles
  * carry keys and counters only, never raw rows.
  */
object Analytics {

  private val overlapCache = new graft.Memo("analytics.overlap")

  /** Histogram bin width (value domain is [0, ~500]); 20 regular bins
    * plus clamp-into-edge-bins for outliers, the `width_bucket` pattern.
    */
  val BinWidth = 25.0
  val NumBins = 20

  /** X-HISTOGRAM: fixed-bin value histogram per event_type — the value
    * distribution profile that drives outlier clipping and quality
    * thresholds. One narrow projection (bucket arithmetic is row-local,
    * codegen'd) then one partial+final hash agg on (event_type, bucket):
    * the shuffle carries ≤ `types × NumBins` counter rows per map
    * partition no matter the input size — the map-side combine IS the
    * histogram merge, which is why this scales to 100 TB while a
    * sort-based percentile over raw values would not.
    *
    * Bucket bounds are emitted as `bucket × width` products (identical
    * IEEE doubles in the oracle), money sums in exact DECIMAL. Division
    * `value / 25.0` is one IEEE op reproduced verbatim in the oracle, so
    * bucket assignment — and therefore every output cell — hash-matches.
    *
    * NULL and NaN values are EXCLUDED up front: `greatest`/`least` skip
    * nulls and order NaN as largest, so without the filter a NULL would
    * silently land in bucket 0 and a NaN in bucket 19 — misbinned dirty
    * data instead of an explicit exclusion. The oracle applies the same
    * predicate.
    */
  def histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("event_type"),
        least(greatest(floor(col("value") / BinWidth), lit(0.0)), lit((NumBins - 1).toDouble))
          .cast("long").as("bucket"),
        col("value"))
      .groupBy("event_type", "bucket")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(
        col("event_type"), col("bucket"),
        (col("bucket").cast("double") * BinWidth).as("bin_lo"),
        ((col("bucket") + 1).cast("double") * BinWidth).as("bin_hi"),
        col("n"), col("total_value"))
      .orderBy("event_type", "bucket")

  /** X-INCR-AGG: incremental materialized-view maintenance — the 100 TB
    * pattern where a daily rollup is kept current by merging a small
    * delta's PARTIAL AGGREGATE STATE into the snapshot instead of
    * rescanning the base. Base (≈90% of events) and delta (≈10%,
    * `event_id % 10 = 0` — late-arriving rows that touch EXISTING days,
    * the hard case) are aggregated separately to (day, event_type) →
    * (n, total) state rows; the merge is a second tiny aggregate over
    * the UNION of the two state tables. Count states add; sum states
    * add (DECIMAL, exact); avg is derived sum/count AFTER the merge —
    * the algebraic-aggregate decomposition that makes the view
    * maintainable. At scale the base state table is ~days × types rows —
    * the merge never touches the base FACTS. The oracle is the full
    * recompute over all events: merged state must be value-identical.
    */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("total"))
    val events = Tables.events(spark, sfDir)
    // Null-complete split: `% 10 === 0` is NULL (not false) for a NULL
    // event_id under three-valued logic, so BOTH a `=!=` base and a `===`
    // delta would drop such rows. The base side takes the negation's
    // complement explicitly so base ∪ delta is provably the whole table.
    val isDelta = col("event_id") % 10 === 0
    val base = state(events.filter(!isDelta || col("event_id").isNull))
    val delta = state(events.filter(isDelta))
    base.unionAll(delta)
      .groupBy("day", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      .select(
        col("day"), col("event_type"), col("n"),
        col("total").cast("double").as("total_value"),
        (col("total").cast("double") / col("n").cast("double")).as("avg_value"))
      .orderBy("day", "event_type")
  }

  /** X-INCR-JOIN: incremental JOIN-view maintenance — the cross-term
    * delta algebra that X-INCR-AGG's aggregate-only maintenance lacks.
    * For the materialized per-user click⋈purchase pair count
    * `V = C·P`, the refresh after deltas land is
    * `V' = (C+ΔC)(P+ΔP) = V + ΔC·P + C·ΔP + ΔC·ΔP`: every delta term
    * carries a Δ factor, so the correction join is keyed by the DELTA's
    * users — `deltaCounters LEFT JOIN baseCounters` — and the work
    * scales with the delta, never the base table. That asymmetry is the
    * entire point of incremental maintenance at 100 TB: the stored view
    * plus a delta-sized correction replaces a full recompute. Here the
    * base counter table stands in for the persisted state (as in
    * [[incrementalAgg]]); all counters and products are exact BIGINTs,
    * and the oracle is the full recompute — maintenance must be
    * value-identical. Split: the same null-complete event_id decile as
    * X-INCR-AGG.
    */
  def incrementalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val isDelta = col("event_id") % 10 === 0
    def counters(df: DataFrame): DataFrame =
      df.groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
    val base = counters(ev.filter(!isDelta || col("event_id").isNull))
    val delta = counters(ev.filter(isDelta))
    // delta-keyed correction: ΔC·P + C·ΔP + ΔC·ΔP per delta user
    val corrections = delta.as("d").join(base.as("b"), Seq("user_id"), "left")
      .select(col("user_id"),
        (col("d.c") * coalesce(col("b.p"), lit(0L))
          + coalesce(col("b.c"), lit(0L)) * col("d.p")
          + col("d.c") * col("d.p")).as("pairs"))
    // the stored view's rollup (stand-in for persisted state) + the
    // corrections give the refreshed per-user pair counts
    val refreshed = base
      .select(col("user_id"), (col("c") * col("p")).as("pairs"))
      .unionAll(corrections)
      .groupBy("user_id")
      .agg(sum("pairs").as("pairs"))
    refreshed
      .groupBy(pmod(col("user_id"), lit(16L)).as("bucket"))
      .agg(
        sum("pairs").as("n_pairs"),
        sum(when(col("pairs") > 0, 1L).otherwise(0L)).as("n_users_with_pairs"),
        count(lit(1)).as("n_users"))
      .orderBy("bucket")
  }

  /** Z-score multiplier for the anomaly band. */
  val AnomalySigmas = 3.0

  /** X-ANOMALY: per-type outlier profile — the data-health pass that
    * flags value anomalies before they poison training statistics. Two
    * narrow passes over the facts: (1) per-type moments from EXACT
    * DECIMAL sums (sum and sum-of-squares are exact, so mean and
    * variance are each ONE IEEE division/multiply chain — bit-identical
    * in the oracle); (2) the 5-row moment table broadcasts back onto the
    * facts and each row tests |value − mean| > 3σ map-side. The shuffle
    * carries per-type counters only. Variance is clamped at zero before
    * sqrt (float cancellation on near-constant data would otherwise
    * produce NaN bands — deterministically on both engines, but a NaN
    * band silently flags nothing). NULL/NaN values are excluded up front
    * like [[histogram]].
    */
  def anomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("event_type"), col("value"))
    // squares multiply in the DECIMAL domain (2-decimal value × itself →
    // exact 4-decimal product) so sum/ssq are both exact before the one
    // double conversion — no double×double rounding reaches an aggregate
    val dv = col("value").cast(DecimalType(18, 2))
    val moments = vals.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(dv).cast("double").as("s"),
        sum(dv * dv).cast("double").as("ssq"))
      .select(col("event_type"), col("n"),
        (col("s") / col("n")).as("mean"),
        sqrt(greatest(col("ssq") / col("n") - (col("s") / col("n")) * (col("s") / col("n")),
          lit(0.0))).as("sd"))
    vals.join(broadcast(moments), "event_type")
      .select(col("event_type"), col("n"), col("mean"), col("sd"), col("value"),
        (abs(col("value") - col("mean")) > lit(AnomalySigmas) * col("sd")).as("is_out"))
      .groupBy("event_type", "n", "mean", "sd")
      .agg(
        sum(when(col("is_out"), lit(1L)).otherwise(lit(0L))).as("n_outliers"),
        sum(when(col("is_out"), col("value").cast(DecimalType(18, 2)))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double").as("outlier_sum"))
      .orderBy("event_type")
  }

  /** X-MAD: median-absolute-deviation scale profile — the ROBUST sibling
    * of [[anomaly]]: a z-score band is itself dragged by the outliers it
    * hunts, while median ± k·MAD is breakdown-point-0.5 robust (the
    * standard pre-training value-clipping rule; consumers pick k,
    * typically 3 ≈ 2σ under normality since MAD ≈ 0.6745σ). Exactness:
    * values quantize to integer cents first (the X-QUANTILES pattern),
    * so the median interpolates to an exact .0/.5 double, every absolute
    * deviation is an exact double, and the MAD (median of those) is
    * again exact — both engines compute identical bands with no float
    * drift. Two passes: per-type medians (tiny, broadcast back), then
    * deviations + the MAD/outlier aggregate; shuffles carry per-type
    * order statistics, the band test runs map-side.
    *
    * `percentile` buffers values per group — exact order statistics are
    * for profiling cadence; the streaming-scale path is
    * `approx_percentile` (see X-QUANTILES, which checks both).
    */
  def mad(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val med = vals.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5)").as("medc"))
    vals.join(broadcast(med), "event_type")
      .select(col("event_type"), col("medc"),
        abs(col("cents").cast("double") - col("medc")).as("dev"))
      .groupBy("event_type", "medc")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(dev, 0.5)").as("madc"))
      .select(col("event_type"), col("n"),
        round(col("medc") / 100.0, 6).as("median"),
        round(col("madc") / 100.0, 6).as("mad"))
      .orderBy("event_type")
  }

  /** X-OVERLAP: audience overlap matrix — |users(a) ∩ users(b)| and
    * Jaccard for every event_type pair, the cross-source contamination /
    * co-occurrence profile. Scale shape: one distinct over (user_id,
    * event_type) — the only pass over the facts — then a self-join ON
    * user_id (shuffle carries 16-byte id/type pairs; each user
    * contributes ≤ types² join rows), then a counter agg on the type
    * pair. Per-type distinct counts come from the same distinct table
    * and broadcast onto the ≤ types² result rows. Jaccard is one IEEE
    * division per output row, reproduced verbatim in the oracle.
    */
  def overlap(spark: SparkSession, sfDir: String): DataFrame = {
    // The distinct (user_id, event_type) table feeds THREE consumers
    // (both self-join sides + the per-type sizes) — memoize and cache it
    // so the facts are scanned and deduped once, per the repo's
    // shared-scan convention (Memo).
    val ut = overlapCache.getOrBuild(spark, sfDir, cache = true) {
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type")).distinct()
    }
    val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("nu"))
    val inter = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("nu").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("nu").as("n_b"))), "type_b")
      .select(
        col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** X-RFM: recency/frequency/monetary customer segmentation — the
    * classic CRM scoring grid (Hughes, "Strategic Database Marketing"),
    * computed per market segment so every window is PARTITIONED (the
    * scale guard x_window_funcs establishes: an unpartitioned ntile is a
    * single-reducer sort).
    *
    * Scale shape: the only fact-sized work is the per-customer aggregate
    * over orders — one partial+final hash agg whose shuffle carries
    * (custkey, day, count, cents) — after which the frame is dim-sized
    * (one row per ordering customer). The corpus max order date is a
    * broadcast one-row aggregate (X-DECAY's pattern). All three metrics
    * are exact integers (days / counts / cents), so quartile assignment
    * is bit-deterministic; each ntile's ORDER BY ends in custkey, making
    * the total order unique and the tiling engine-independent. R tiles
    * ascend by staleness (1 = most recent), F and M descend (1 = most
    * frequent / highest spend) — the conventional "111 is the best
    * customer" orientation. Output is the ≤ segments×4³ scoring grid
    * with exact counts, a witness key, and the cell's total cents.
    */
  def rfm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val maxDay = orders.agg(max("day").as("max_day"))
    val perCust = orders
      .groupBy("o_custkey")
      .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
        sum("cents").as("monetary_cents"))
      .crossJoin(broadcast(maxDay))
      .select(col("o_custkey"),
        datediff(col("max_day"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val scored = perCust
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .withColumn("r_tile", ntile(4).over(Window.partitionBy("c_mktsegment")
        .orderBy(col("recency_days").asc, col("c_custkey").asc)).cast("long"))
      .withColumn("f_tile", ntile(4).over(Window.partitionBy("c_mktsegment")
        .orderBy(col("frequency").desc, col("c_custkey").asc)).cast("long"))
      .withColumn("m_tile", ntile(4).over(Window.partitionBy("c_mktsegment")
        .orderBy(col("monetary_cents").desc, col("c_custkey").asc)).cast("long"))
    scored
      .groupBy("c_mktsegment", "r_tile", "f_tile", "m_tile")
      .agg(
        count(lit(1)).as("n_customers"),
        min("c_custkey").as("min_custkey"),
        sum("monetary_cents").as("cell_cents"))
      .orderBy("c_mktsegment", "r_tile", "f_tile", "m_tile")
  }

  /** X-EQUIDEPTH: exact equi-depth value binning per event type — each
    * type's non-null values (as exact cents) split into 4 equal-count
    * bins by `ntile` over the unique (cents, event_id) total order; the
    * output is each bin's count and [min, max] cents — the discretizer
    * table a feature pipeline persists (equi-WIDTH is X-HISTOGRAM; depth
    * binning is robust to the heavy tail that makes width bins useless).
    * Deterministic because the tiling order is unique; every window is
    * PARTITIONED by event type. Scale: one exchange by type + sort — the
    * same shape as any per-key ranking — then a partial+final rollup.
    */
  def equidepth(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        col("event_id"))
      .withColumn("bin", ntile(4).over(Window.partitionBy("event_type")
        .orderBy(col("cents"), col("event_id"))).cast("long"))
      .groupBy("event_type", "bin")
      .agg(
        count(lit(1)).as("n"),
        min("cents").as("lo_cents"),
        max("cents").as("hi_cents"))
      .orderBy("event_type", "bin")
  }

  /** X-DRIFT: two-sample distribution drift per event type — the exact
    * Kolmogorov–Smirnov distance between the `value` distributions of
    * two deterministic cohorts (even vs odd epoch-day), the check a
    * training pipeline runs to catch feature drift between data windows
    * before a model trains on the shifted mix. The statistic is computed
    * in EXACT integer form: values as cents, CDFs as running counts, and
    * `D = max |F_a·n_b − F_b·n_a|` over the merged support — all BIGINT —
    * with the final `ks = D / (n_a·n_b)` the only (deterministic IEEE)
    * float op. Scale shape: one partial+final agg to per-(type, cents,
    * cohort) counts — the shuffle carries distinct values, not events —
    * then windows PARTITIONED by event type over the distinct-value
    * frame; types with an empty cohort are excluded (the statistic is
    * undefined), which the oracle mirrors.
    */
  def drift(spark: SparkSession, sfDir: String): DataFrame =
    driftOf(Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long"), lit(2L))
          .as("cohort")))

  /** Core KS computation over any (event_type, cents, cohort∈{0,1})
    * frame — separated so the property law can drive it with generated
    * samples against a sequential reference.
    */
  def driftOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perValue = ev
      .groupBy("event_type", "cents")
      .agg(
        sum(when(col("cohort") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("cohort") === 1L, 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("event_type")
    perValue
      .withColumn("fa", sum("ca").over(w))
      .withColumn("fb", sum("cb").over(w))
      .withColumn("na", sum("ca").over(wt))
      .withColumn("nb", sum("cb").over(wt))
      .filter(col("na") > 0 && col("nb") > 0)
      .groupBy("event_type")
      .agg(
        max("na").as("n_a"),
        max("nb").as("n_b"),
        max(abs(col("fa") * col("nb") - col("fb") * col("na"))).as("d_scaled"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("d_scaled"),
        (col("d_scaled").cast("double") / (col("n_a") * col("n_b")).cast("double")).as("ks"))
      .orderBy("event_type")
  }

  /** X-EMBED-DRIFT: distribution drift in EMBEDDING space — the vector
    * sibling of X-DRIFT, the check a retrieval/training pipeline runs
    * when the encoder or the upstream corpus changes ("did the
    * embedding distribution move between ingest windows"). Cohorts are
    * the deterministic vec_id parity split (the embeddings fixture
    * carries no date; the parity split is the same two-deterministic-
    * cohorts discipline as X-DRIFT's day parity). All moment arithmetic
    * lives in the exact quantized domain `floor(x·2^10)` (the X-KMEANS
    * convention — power-of-two multiply is exact, sums are
    * order-independent integers): per dimension and cohort the exact
    * BIGINT count, sum and sum-of-squares, and the drift statistics in
    * X-DRIFT's cross-multiplied integer form — `|sum_a·n_b − sum_b·n_a|`
    * (first-moment drift) and `|ss_a·n_b − ss_b·n_a|` (second-moment
    * drift) — so WHICH dimension moved, and in mean or in spread, is an
    * integer-exact readout. `mean_shift` (one IEEE division) and
    * `disp_sq` — the squared per-dimension centroid displacement, whose
    * column SUM is the squared L2 displacement of the cohort centroids
    * (the X-CHI2-DRIFT drill-down convention: per-row contributions, the
    * global statistic recoverable as the sum) — are the only float ops,
    * fixed expressions mirrored verbatim in the oracle.
    *
    * Scale shape: ONE posexplode into a (dim)-keyed partial+final agg —
    * the shuffle carries 64 partial moment rows per map partition, never
    * vectors — then dim-sized (64-row) arithmetic. At 100 TB nothing
    * changes: the agg state is dims × cohorts counters regardless of
    * corpus size.
    */
  def embedDrift(spark: SparkSession, sfDir: String): DataFrame =
    embedDriftOf(Tables.embeddings(spark, sfDir)
      .select(pmod(col("vec_id"), lit(2L)).as("cohort"),
        posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")))
      .toDF("cohort", "dim", "q"))

  /** Core per-dimension moment drift over any (cohort∈{0,1}, dim, q)
    * frame — separated so the property law can drive it with
    * identical cohorts and pin the all-zero case.
    */
  def embedDriftOf(f: DataFrame): DataFrame = {
    def d(c: String) = col(c).cast("double")
    f.groupBy("dim")
      .agg(
        sum(when(col("cohort") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1L, 1L).otherwise(0L)).as("n_b"),
        coalesce(sum(when(col("cohort") === 0L, col("q"))), lit(0L)).as("sum_a"),
        coalesce(sum(when(col("cohort") === 1L, col("q"))), lit(0L)).as("sum_b"),
        coalesce(sum(when(col("cohort") === 0L, col("q") * col("q"))), lit(0L)).as("ss_a"),
        coalesce(sum(when(col("cohort") === 1L, col("q") * col("q"))), lit(0L)).as("ss_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("dim").cast("long").as("dim"),
        col("n_a"), col("n_b"), col("sum_a"), col("sum_b"),
        abs(col("sum_a") * col("n_b") - col("sum_b") * col("n_a")).as("d_mean_scaled"),
        abs(col("ss_a") * col("n_b") - col("ss_b") * col("n_a")).as("d_m2_scaled"),
        (abs(col("sum_a") * col("n_b") - col("sum_b") * col("n_a")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("mean_shift"),
        ((d("sum_a") / d("n_a") - d("sum_b") / d("n_b"))
          * (d("sum_a") / d("n_a") - d("sum_b") / d("n_b"))).as("disp_sq"))
      .orderBy("dim")
  }

  /** X-CHI2-DRIFT: categorical-mix drift between cohorts — X-DRIFT's KS
    * statistic reads a NUMERIC distribution shift; this reads the
    * event-TYPE mix shift (the "did the traffic composition change"
    * question: a feed that silently swaps clicks for errors moves no
    * value quantile but explodes here). Cohorts are the same
    * deterministic day-parity split as X-DRIFT; the 2×|types|
    * contingency table comes from ONE partial+final agg of exact BIGINT
    * counts; expected cells e = row·col/N and each type's χ² contribution
    * (o_a−e_a)²/e_a + (o_b−e_b)²/e_b are fixed IEEE expressions over
    * those counts, mirrored verbatim — the global χ² is their exact
    * float sum in type order (the oracle sums the same per-type doubles
    * with the same ORDER BY, so even the one float reduction is pinned).
    * Output: one row per event type with both observed counts, the
    * expected cells, and the contribution — the drill-down a drift alarm
    * needs (WHICH category moved), with the statistic recoverable as the
    * column sum.
    */
  def chi2Drift(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .select(col("event_type"),
        pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long"),
          lit(2L)).as("cohort"))
      .groupBy("event_type")
      .agg(
        sum(when(col("cohort") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1L, 1L).otherwise(0L)).as("n_b"))
    val tot = counts.agg(
      sum("n_a").as("t_a"), sum("n_b").as("t_b"),
      sum(col("n_a") + col("n_b")).as("t"))
    def d(c: String) = col(c).cast("double")
    val ea = (d("n_a") + d("n_b")) * d("t_a") / d("t")
    val eb = (d("n_a") + d("n_b")) * d("t_b") / d("t")
    counts.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        ea.as("e_a"), eb.as("e_b"),
        ((d("n_a") - ea) * (d("n_a") - ea) / ea +
          (d("n_b") - eb) * (d("n_b") - eb) / eb).as("chi2_contrib"))
      .orderBy("event_type")
  }

  /** X-MANN-WHITNEY: the nonparametric sibling of X-DRIFT's KS — the
    * Mann–Whitney U rank-sum test between the same deterministic
    * day-parity cohorts, per event type. KS reads "are the CDFs equal
    * anywhere"; U reads "does one cohort stochastically dominate" — the
    * robust location-shift alarm that ignores the fat tail a mean-based
    * readout drowns in. Everything is EXACT integers in the DOUBLED
    * domain (tie-averaged ranks are half-integers, so 2·rank is a
    * BIGINT): per distinct cents value, the tied block's doubled average
    * rank is 2·before + t + 1 (before = items strictly less, t = tied
    * count), the doubled rank sum 2R_a folds in one pass, 2U_a =
    * 2R_a − n_a(n_a+1), 2U_b = 2·n_a·n_b − 2U_a (conservation the spec
    * asserts), and the tie-correction mass T = Σ(t³−t) is exact. The
    * normal-approximation z = (2U_a − n_a·n_b) / (2·√var) with the
    * tie-corrected var = n_a·n_b/12·((n+1) − T/(n(n−1))) is ONE fixed
    * IEEE chain over those integers — `sqrt` is IEEE-754
    * correctly-rounded (unlike ln/exp), so both engines produce the
    * identical double; an all-tied type has var = 0 and z pinned NULL by
    * an exact integer guard on both sides. Types with an empty cohort
    * are excluded (the statistic is undefined), mirroring X-DRIFT.
    *
    * Scale shape: one partial+final agg to per-(type, cents) cohort
    * counts — the shuffle carries distinct values, never events — then
    * a prefix-sum window PARTITIONED by type over the distinct-value
    * frame and a final per-type rollup. The doubled rank sum is ≤
    * n·(2n+1), inside BIGINT to ~10^9 rows per type — but the CUBIC
    * tie term sum(t³−t) overflows 2^63 far earlier: a single tie block
    * of ~2.1M equal-cents rows breaks it. The scale escape hatch is
    * therefore a three-column DECIMAL(38) swap (r2_a, AND tie_cube —
    * the cube must move together with the rank sums), which buys tie
    * blocks to ~10^12 rows; the fixture's max tie block is asserted
    * under the BIGINT-safe bound by the x_mann_whitney spec.
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame =
    mannWhitneyOf(Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long"),
          lit(2L)).as("cohort")))

  /** Core U computation over any (event_type, cents, cohort) frame —
    * separated so the property law can drive it with generated samples
    * against a sequential tie-averaged rank-sum reference.
    */
  def mannWhitneyOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perValue = ev
      .groupBy("event_type", "cents")
      .agg(
        sum(when(col("cohort") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("cohort") === 1L, 1L).otherwise(0L)).as("cb"))
    val wBefore = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = col("ca") + col("cb")
    val stats = perValue
      .withColumn("before", coalesce(sum(col("ca") + col("cb")).over(wBefore), lit(0L)))
      .groupBy("event_type")
      .agg(
        sum("ca").as("n_a"),
        sum("cb").as("n_b"),
        sum(col("ca") * (lit(2L) * col("before") + t + 1L)).as("r2_a"),
        sum(t * t * t - t).as("tie_cube"),
        // distinct-value count: var = 0 ⇔ every item sits in ONE tie
        // block ⇔ n_vals = 1 — an exact integer guard that never cubes n
        count(lit(1)).as("n_vals"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val u2a = col("r2_a") - col("n_a") * (col("n_a") + 1L)
    val n = col("n_a") + col("n_b")
    val varTie = d(col("n_a") * col("n_b")) / 12.0 *
      (d(n + 1L) - d(col("tie_cube")) / d(n * (n - 1L)))
    stats.select(col("event_type"), col("n_a"), col("n_b"),
        u2a.as("u2_a"),
        (lit(2L) * col("n_a") * col("n_b") - u2a).as("u2_b"),
        col("tie_cube"),
        when(col("n_vals") > 1L,
          d(u2a - col("n_a") * col("n_b")) / (lit(2.0d) * sqrt(varTie))).as("z"))
      .orderBy("event_type")
  }

  /** X-THEILSEN: Theil–Sen robust trend over the daily purchase-revenue
    * series — the median of all pairwise day slopes, the estimator that
    * shrugs off the outlier days that wreck X-LINREG's OLS (breakdown
    * point 29% vs 0%). The series is calendar-bounded (one exact-cents
    * total per day), so the pair domain is days², never events² — the
    * classic "aggregate first, then the O(k²) statistic on the bounded
    * series" shape that survives 100 TB: fact work is ONE partial+final
    * agg to per-day totals; the pair self-join and ranking run on a
    * frame the size of the calendar. Each pair's slope dy/dx is one
    * IEEE division over exact BIGINTs (bit-identical both engines);
    * the median is the pair at 1-based rank ⌈P/2⌉ of the deterministic
    * (slope, dy, dx, x_i) total order — reported as the EXACT (dy, dx)
    * rational plus its double. The intercept is the same lower-median
    * selection over the per-day residuals y_i − slope·x_i (fixed IEEE
    * chain, (value, x_i) tie-break). Global windows here rank
    * calendar-bounded frames — the documented globalWindowOk class.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame =
    theilSenOf(Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(
        datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
          .cast("long").as("x"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .groupBy("x").agg(sum("cents").as("y")))

  /** Core Theil–Sen selection over any (x, y) series frame — separated
    * so the property law can drive it with generated series against a
    * brute median-of-pair-slopes reference.
    */
  def theilSenOf(series: DataFrame): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.expressions.Window
    // calendar-sized; feeds the pair join twice + the residual pass
    val daily = sc.cut(series)
    val a = daily.select(col("x").as("xi"), col("y").as("yi"))
    val b = daily.select(col("x").as("xj"), col("y").as("yj"))
    val pairs = a.join(b, col("xj") > col("xi"))
      .select(col("xi"), (col("yj") - col("yi")).as("dy"),
        (col("xj") - col("xi")).as("dx"))
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val wp = Window.orderBy(col("slope"), col("dy"), col("dx"), col("xi"))
    val ranked = pairs
      .withColumn("rn", row_number().over(wp).cast("long"))
      .withColumn("np", count(lit(1)).over())
    // median pick as a grouping-free aggregate (provably 1 row — the
    // broadcast-one-row stat-join idiom the plan lint admits); integer
    // div, not Column./ (which is IEEE division even on BIGINTs)
    val med = ranked
      .agg(max(when(col("rn") === expr("(np + 1) div 2"),
        struct(col("dy"), col("dx"), col("slope"), col("np")))).as("m"))
      .select(col("m.dy").as("med_dy"), col("m.dx").as("med_dx"),
        col("m.slope").as("slope"), col("m.np").as("n_pairs"))
    val resid = daily.crossJoin(broadcast(med))
      .select(col("x"), col("med_dy"), col("med_dx"), col("slope"), col("n_pairs"),
        (col("y").cast("double") - col("slope") * col("x").cast("double")).as("ic"))
    val wr = Window.orderBy(col("ic"), col("x"))
    resid
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("nd", count(lit(1)).over())
      .filter(col("rn") === expr("(nd + 1) div 2"))
      .select(col("nd").as("n_days"), col("n_pairs"), col("med_dy"), col("med_dx"),
        col("slope"), col("ic").as("intercept"))
  }

  /** Regression time origin: this FIXTURE's min order date (verified
    * 1995-01-01 at every SF), so x = days-since is non-negative.
    */
  val LinregEpoch = "1995-01-01"

  /** X-LINREG: per-segment ordinary-least-squares trend — spend (exact
    * cents) regressed on order age (days since [[LinregEpoch]]), the
    * "is this segment's ticket size drifting?" monitor a pipeline runs
    * per data window. The distributed part is ONE partial+final hash
    * aggregate producing the five exact BIGINT moments (n, Σx, Σy, Σxy,
    * Σx²) — the shuffle carries five counters per segment per map
    * partition, never rows, which is the textbook reason OLS scales: the
    * sufficient statistics are algebraic. Slope and intercept are then
    * derived from the moments with one fixed IEEE expression reproduced
    * verbatim in the oracle (BIGINT→double casts are correctly rounded
    * in both engines, and every double op on identical operands is
    * bit-deterministic). Σy² is deliberately NOT computed: cents² sums
    * overflow int64 at scale, so r² would need 128-bit sums whose
    * double-rounding is engine-dependent — the moments emitted are
    * exactly the ones int64 carries exactly.
    */
  def linreg(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit(LinregEpoch)))
          .cast("long").as("x"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("y"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    linregOf(o.join(broadcast(cust), col("o_custkey") === col("c_custkey")))
  }

  /** Core grouped-OLS over any (c_mktsegment, x, y) frame — separated so
    * the property law can drive it with generated samples against a
    * sequential BigInt-moment reference.
    */
  def linregOf(xy: DataFrame): DataFrame = {
    val m = xy
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val varx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    m.withColumn("slope", cov / varx)
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) / nD)
      .orderBy("c_mktsegment")
  }

  /** Conformal coverage target: 90% intervals (α = 0.1). */
  val ConformalPct = 90

  /** X-CONFORMAL: split-conformal prediction intervals on the X-LINREG
    * trend model — the distribution-free ML-eval operator: fit on a
    * train fold, take the ⌈(1−α)(n+1)⌉-th smallest absolute residual on
    * a held-out calibration fold as the interval half-width q̂, and the
    * conformal guarantee says a FRESH point lands inside pred ± q̂ with
    * probability ≥ 1−α, no matter how wrong the model is. The report
    * measures exactly that: per segment, q̂ and the realized coverage on
    * a third disjoint test fold (the honest check — coverage on the
    * calibration fold itself is ≥ 1−α by construction).
    *
    * Determinism: folds are `o_orderkey mod 4` (0,1 train / 2 cal /
    * 3 test — never rand()); the model is the exact-moment OLS with the
    * one fixed IEEE slope/intercept expression ([[linregOf]]'s
    * convention); residuals are fixed IEEE chains over exact ints, so
    * both engines hold bit-identical doubles and their order statistics
    * agree; the calibration rank k = ⌈0.9·(n_cal+1)⌉ is exact integer
    * arithmetic with (residual, orderkey) as the total-order tie-break.
    *
    * Scale shape: ONE fact pass builds (segment, fold, x, y); the train
    * moments are a partial+final agg (five BIGINT counters); the model
    * and q̂ broadcast back as ≤|segments| rows; the only per-key sort is
    * the ranking window over the CALIBRATION fold — the irreducible cost
    * of an exact order statistic (the approximate sibling is
    * x_quantiles' KLL sketch), and it runs on a quarter of the facts.
    */
  def conformal(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val base = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit(LinregEpoch)))
          .cast("long").as("x"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("y"),
        pmod(col("o_orderkey"), lit(4L)).as("fold"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("x"), col("y"), col("fold"))
    // ≤|segments| rows, consumed by cal, test, and the output join —
    // uncut, every consumer re-runs the train-fold fact agg; sealed, so
    // the output join plans against its true size
    val model = sc.seal(base.filter(col("fold") <= 1L)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_train"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n_train").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_train").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n_train").cast("double"))
      .select("c_mktsegment", "n_train", "slope", "intercept"))
    def resid = abs(col("y").cast("double") -
      (col("slope") * col("x").cast("double") + col("intercept")))
    // the calibration quarter feeds both the ranking and the rank-count;
    // cut so the residual join runs once (at 100 TB: persist-to-disk)
    val cal = sc.cut(base.filter(col("fold") === 2L)
      .join(broadcast(model), Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("o_orderkey"), resid.as("r")))
    val calRanked = cal.withColumn("rk",
      row_number().over(Window.partitionBy("c_mktsegment")
        .orderBy(col("r"), col("o_orderkey"))).cast("long"))
    // calibration rank k = ceil(0.9 * (n_cal + 1)), clamped into range
    val nCal = cal.groupBy("c_mktsegment").agg(count(lit(1)).as("n_cal"))
      .withColumn("k",
        least(expr(s"($ConformalPct * (n_cal + 1) + 99) div 100"), col("n_cal")))
    // ≤|segments| rows, consumed by test and the output join (sealed,
    // as `model` is)
    val qh = sc.seal(calRanked.join(broadcast(nCal), Seq("c_mktsegment"))
      .filter(col("rk") === col("k"))
      .select(col("c_mktsegment"), col("n_cal"), col("r").as("q_hat")))
    val test = base.filter(col("fold") === 3L)
      .join(broadcast(model), Seq("c_mktsegment"))
      .join(broadcast(qh), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_test"),
        sum(when(resid <= col("q_hat"), 1L).otherwise(0L)).as("covered"))
    model.select(col("c_mktsegment"), col("n_train"), col("slope"), col("intercept"))
      .join(qh, Seq("c_mktsegment"))
      .join(test, Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("n_train"), col("n_cal"), col("n_test"),
        col("slope"), col("intercept"), col("q_hat"),
        col("covered"), expr("covered * 1000000 div n_test").as("coverage_ppm"))
      .orderBy("c_mktsegment")
  }

  /** Winsorization tail fraction: clamp below P5 and above P95. */
  val WinsorPct = 5

  /** X-WINSORIZE: robust per-segment mean via percentile clamping — the
    * outlier treatment feature pipelines apply before z-scoring (a MEAN
    * is wrecked by one fat-finger row; winsorizing bounds the damage
    * without dropping data like a filter would). Bounds are exact
    * `percentile_disc`-style order statistics: the value at 1-based rank
    * ⌈p·n⌉ of each segment's (cents, custkey) total order — the tie-break
    * key makes the rank assignment unique, and because equal cents sort
    * adjacently the SELECTED VALUE is tie-order independent anyway.
    * Everything stays exact integers (ranks, bounds, clamped sum); the
    * single division at the end is one deterministic IEEE op. Scale
    * shape: one exchange per segment for the ranking window (the same
    * shape as any per-key ranking — at 100 TB the per-segment sort is
    * the irreducible cost of an EXACT percentile; the approximate
    * sibling is x_quantiles), then a broadcast of the ≤|segments| bound
    * rows back onto the frame.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame =
    winsorizeOf(Tables.load(spark, sfDir, "customer")
      .select(col("c_mktsegment"),
        (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        col("c_custkey")))

  /** Core percentile clamp over any (c_mktsegment, cents, c_custkey)
    * frame — separated so the property law can drive it with generated
    * samples against a sequential order-statistic reference.
    */
  def winsorizeOf(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment").orderBy(col("cents"), col("c_custkey"))
    val ranked = base
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
    // 1-based rank of the percentile_disc bound: ceil(p*n) = (p*n + 99) div 100
    val loIdx = (col("cnt") * WinsorPct + 99).divide(100).cast("long")
    val hiIdx = (col("cnt") * (100 - WinsorPct) + 99).divide(100).cast("long")
    val bounds = ranked
      .groupBy("c_mktsegment")
      .agg(
        max(when(col("rn") === loIdx, col("cents"))).as("lo_cents"),
        max(when(col("rn") === hiIdx, col("cents"))).as("hi_cents"))
    base.join(broadcast(bounds), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        max("lo_cents").as("lo_cents"),
        max("hi_cents").as("hi_cents"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("win_sum_cents"),
        sum("cents").as("raw_sum_cents"))
      .withColumn("win_mean",
        col("win_sum_cents").cast("double") / col("n").cast("double"))
      .orderBy("c_mktsegment")
  }

  /** Gap-fill series threshold: "jumbo" orders over $480,000 — rare
    * enough (~115 observed days across a ~2,380-day span at sf0.01) that
    * the calendar spine genuinely has gaps to fill.
    */
  val JumboCents = 48000000L

  /** X-GAPFILL: calendar-spine densification + forward fill — the
    * time-series repair every daily-reporting pipeline needs (the
    * reference's BigQuery consumers GROUP BY date; a day with no rows
    * silently vanishes from that output, and downstream
    * window/decay/drift math over the gapped series is wrong). Per
    * priority: the sparse per-day rollup is left-joined onto the full
    * min..max day spine; gap days get an explicit zero count and the
    * last observed day's total carried forward (`last(..., ignoreNulls)`
    * over an ordered partitioned window). Scale shape: the only
    * fact-sized work is the one partial+final daily aggregate — the
    * spine (keys × days) and everything after is dimension-sized, so
    * densification costs nothing at 100 TB. The oracle mirrors the fill
    * with the engine-agnostic count-over/max-per-group trick.
    */
  def gapfill(spark: SparkSession, sfDir: String): DataFrame =
    gapfillOf(Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("day"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .filter(col("cents") > JumboCents)
      .groupBy("priority", "day")
      .agg(count(lit(1)).as("n"), sum("cents").as("day_cents")))

  /** Core spine+fill over any sparse (priority, day, n, day_cents)
    * frame — separated so the property law can drive it with generated
    * sparse series against a sequential carry-forward reference.
    */
  def gapfillOf(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = daily.groupBy("priority")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("priority"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("priority", "day"), "left")
      .select(col("priority"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"),
        last(col("day_cents"), ignoreNulls = true).over(w).as("ffill_cents"),
        col("n").isNull.as("is_gap"))
    // spine-sized output ends without a global sort (gates sort rows)
  }

  /** Market-basket output size (top pairs by co-occurrence). */
  val BasketTopN = 20

  /** X-BASKET: market-basket pair mining — brand pairs co-purchased in
    * one order, with support counts and LIFT (the association-rule
    * core of frequent-itemset mining, Agrawal & Srikant's A-priori at
    * the k=2 level where virtually all retail signal lives). Scale
    * shape: the basket explode is bounded — the per-order brand SET is
    * small (≤ a handful of lines), so the self-join on orderkey has
    * bounded fanout per key and shuffles (orderkey, brand) pairs, never
    * a cross join over items; brand marginals and the order total are
    * dim-sized broadcasts. Lift = N·n_ab / (n_a·n_b) from exact BIGINT
    * counts (< 2^53, so the one double expression is bit-deterministic);
    * ties broken by the pair key for a unique top-N.
    */
  def basket(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    val brands = Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"))
    // sealed: the deduped basket frame feeds the order total, the brand
    // marginals AND both sides of the pair join — one lineitem scan +
    // dedup instead of four (at scale the equivalent is a materialized
    // basket table all three aggregates read)
    val ob = sc.seal(Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(brands), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .distinct())
    val nOrders = ob.select(countDistinct("okey").as("n_orders"))
    val marginals = ob.groupBy("brand").agg(count(lit(1)).as("n_b"))
    val pairs = ob.as("a")
      .join(ob.as("b"), col("a.okey") === col("b.okey") &&
        col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marginals.select(col("brand").as("brand_a"), col("n_b").as("n_a"))),
        Seq("brand_a"))
      .join(broadcast(marginals.select(col("brand").as("brand_b"), col("n_b").as("n_bb"))),
        Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        col("n_a"), col("n_bb").as("n_b"), col("n_orders"),
        ((col("n_orders") * col("n_ab")).cast("double")
          / (col("n_a") * col("n_bb")).cast("double")).as("lift"))
      .orderBy(desc("n_ab"), asc("brand_a"), asc("brand_b"))
      .limit(BasketTopN)
  }

  /** Conversion threshold: a "power buyer" makes ≥ this many purchases
    * (the per-user purchase-count median is 13–14 at every fixture SF,
    * so both outcomes are populated).
    */
  val PowerBuyerMin = 14

  /** X-AB-TEST: two-proportion experiment readout — users split into
    * deterministic variants (`user_id mod 2`, standing in for the
    * hash-bucket assignment every experimentation system uses — never
    * `rand()`, the draw must survive reruns), conversion = the user is
    * a power buyer (≥ [[PowerBuyerMin]] purchases); the readout is
    * per-variant counts plus the pooled two-proportion z² statistic
    * (squared z-score ≡ the 2×2 chi-square, with the usual z² ≈ 3.84 ⇒
    * p < 0.05 reading). All inputs are exact BIGINT counts from ONE
    * per-user partial+final agg over the facts (the shuffle carries
    * user ids once — conversion is a per-user count, not a
    * distinct-count per variant), then the statistic is a single fixed
    * IEEE expression over <2^53 integers, reproduced verbatim in the
    * oracle; an all-converted / none-converted pool has z² undefined
    * and is pinned to 0 by an exact INTEGER guard on both sides.
    * Output is one metrics-sized row.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .groupBy("user_id")
      .agg(sum("is_p").as("np"))
      .select(col("user_id"),
        when(col("np") >= PowerBuyerMin, 1L).otherwise(0L).as("conv"),
        pmod(col("user_id"), lit(2L)).as("variant"))
    val g = users.groupBy().agg(
      sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0L, col("conv")).otherwise(0L)).as("c_a"),
      sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1L, col("conv")).otherwise(0L)).as("c_b"))
    val ra = col("c_a").cast("double") / col("n_a").cast("double")
    val rb = col("c_b").cast("double") / col("n_b").cast("double")
    val pp = (col("c_a") + col("c_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    g.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      ra.as("rate_a"), rb.as("rate_b"),
      when(col("c_a") + col("c_b") === 0L ||
          col("c_a") + col("c_b") === col("n_a") + col("n_b"), lit(0.0))
        .otherwise((ra - rb) * (ra - rb) /
          (pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double"))))
        .as("z2"))
  }

  /** X-AB-SRM: sample-ratio-mismatch check — the guardrail every
    * experimentation platform runs BEFORE reading X-AB-TEST's effect: if
    * the 50/50 assignment didn't land 50/50, the readout is invalid no
    * matter how significant (Fabijan et al., KDD 2019 call SRM the most
    * common A/B corruption). Unit counts per variant from ONE per-user
    * distinct projection; expected = n/2 each; the goodness-of-fit
    * χ² = (n_0−n_1)²/n for the 2-cell case — derived so the whole
    * statistic is one division over exact BIGINTs ((o−e)² = (n_0−n_1)²/4
    * per cell, two cells, e = n/2 ⇒ χ² = (n_0−n_1)²/n), one fixed IEEE
    * op mirrored verbatim; split shares in integer ppm ride along. The
    * SRM alarm itself is the exact-integer comparison χ²·n vs
    * 3.84·n-scaled — emitted as a 0/1 flag with NO float threshold
    * ((n_0−n_1)²·100 > 384·n, the z²≈3.84 ⇒ p<0.05 cut in
    * cross-multiplied form).
    */
  def abSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .select(pmod(col("user_id"), lit(2L)).as("variant"))
    users.groupBy().agg(
        sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n_0"),
        sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n_1"))
      .select(col("n_0"), col("n_1"),
        expr("n_0 * 1000000 div (n_0 + n_1)").as("share_0_ppm"),
        ((col("n_0") - col("n_1")) * (col("n_0") - col("n_1"))).cast("double")
          ./((col("n_0") + col("n_1")).cast("double")).as("chi2"),
        when((col("n_0") - col("n_1")) * (col("n_0") - col("n_1")) * 100L
          > lit(384L) * (col("n_0") + col("n_1")), 1L).otherwise(0L).as("srm_flag"))
  }

  /** X-IMPUTE: per-segment median imputation — the missing-value
    * treatment a feature pipeline applies before training (mean
    * imputation is wrecked by the same fat tail X-WINSORIZE exists for;
    * the median is the robust default). Missingness here is SEMANTIC,
    * not accidental: `error` events carry no valid amount (the fixture
    * has no literal NULLs — real feeds encode invalidity in a status
    * column exactly like this), so their cents are treated as missing
    * and backfilled with the day-of-week median of the VALID rows —
    * the seasonality-aware fill a daily-revenue feature needs. The
    * median is an exact order statistic: the value at 1-based rank
    * ⌈n/2⌉ of each weekday's valid (cents, event_id) total order (the
    * percentile_disc convention at p=50, event_id tie-break). Output
    * per weekday: rows, rows imputed, the median, and the exact
    * post-fill cent sum — the checksum pinning WHAT was written, not
    * just how many. Scale shape: one per-weekday ranking window over
    * the valid frame (the irreducible cost of an exact median;
    * x_quantiles is the approximate sibling), the ≤7 median rows
    * broadcast back, one partial+final rollup.
    */
  def impute(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(spark, sfDir)
      .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        col("event_id"),
        when(col("event_type") =!= "error",
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long")).as("cents"))
    val nn = base.filter(col("cents").isNotNull)
    val w = Window.partitionBy("dow").orderBy(col("cents"), col("event_id"))
    val med = nn
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("dow")))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("dow"), col("cents").as("median_cents"))
    base.join(broadcast(med), Seq("dow"))
      .groupBy("dow")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_imputed"),
        max("median_cents").as("median_cents"),
        sum(coalesce(col("cents"), col("median_cents"))).as("filled_sum_cents"))
      .orderBy("dow")
  }

  /** X-TARGET-ENC: leave-one-out target encoding — the categorical
    * feature encoding that replaces a category with the mean target of
    * the OTHER rows in that category: enc_i = (S_cat − v_i) div
    * (n_cat − 1). Including row i's own target leaks the label into the
    * feature (the classic target-encoding leak); LOO is the standard
    * fix, and because it is an exact integer expression per row both
    * engines agree bit-for-bit (all-integer: sums exact, one `div` per
    * row; a 1-row category has no "others" and is pinned NULL via the
    * n−1 = 0 nullif). Categories are (event_type, day-of-week) — the
    * cross every seasonality-aware model one-hots first. Output per
    * category: n, target sum, and min/max/sum of the per-row encodings
    * — the checksum triple pinning every encoded value.
    *
    * Scale shape: ONE partial+final agg for the category moments, a
    * broadcast join back (categories are dim-sized), then a second
    * rollup of the encodings; the per-row encode is map-side arithmetic
    * — the shuffle never carries encodings, only category keys.
    */
  def targetEnc(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val cat = base.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_cat"), sum("cents").as("s_cat"))
    base.join(broadcast(cat), Seq("event_type", "dow"))
      .select(col("event_type"), col("dow"), col("n_cat"), col("s_cat"),
        expr("(s_cat - cents) div nullif(n_cat - 1, 0)").as("enc"))
      .groupBy("event_type", "dow")
      .agg(
        max("n_cat").as("n"),
        max("s_cat").as("target_sum_cents"),
        min("enc").as("enc_min"),
        max("enc").as("enc_max"),
        sum("enc").as("enc_sum"))
      .orderBy("event_type", "dow")
  }

  /** Two-sided α = 0.05 and power = 0.8 normal quantiles as pinned
    * literals (1.96, 0.8416): quantile functions have no cross-engine
    * rounding contract; literals do.
    */
  val PowerZAlpha = 1.96d
  val PowerZBeta = 0.8416d

  /** X-AB-POWER: experiment sample-size planning — the third leg of the
    * experimentation kit (X-AB-SRM validates the split, X-AB-TEST reads
    * the effect; this one answers "how long must it run"): for each
    * candidate minimum-detectable-effect (1..10 absolute percentage
    * points) the required per-arm n via the standard two-proportion
    * formula n = ⌈(z_α + z_β)² · 2·p(1−p) / mde²⌉ at the POOLED
    * baseline conversion measured from the data (X-AB-TEST's power-buyer
    * definition — exact integer counts from one per-user agg; the
    * formula is then a fixed IEEE chain over those integers and pinned
    * literals, mirrored verbatim). Output per MDE row: the exact
    * baseline counts, the required n, and a 0/1 feasibility flag vs the
    * population actually available — an exact integer comparison.
    * Scale shape: ONE per-user partial agg; the grid is 10 rows.
    */
  def abPower(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .groupBy("user_id")
      .agg(sum("is_p").as("np"))
      .select(when(col("np") >= PowerBuyerMin, 1L).otherwise(0L).as("conv"))
    val base = users.agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val grid = spark.range(1, 11).select(col("id").as("mde_pct"))
    val p = col("n_conv").cast("double") / col("n_users").cast("double")
    val z = lit(PowerZAlpha) + lit(PowerZBeta)
    val mde = col("mde_pct").cast("double") / 100.0d
    grid.crossJoin(broadcast(base))
      .select(col("mde_pct"), col("n_users"), col("n_conv"),
        ceil(z * z * (lit(2.0d) * p * (lit(1.0d) - p)) / (mde * mde))
          .cast("long").as("n_per_arm"))
      .withColumn("feasible",
        when(col("n_per_arm") * 2L <= col("n_users"), 1L).otherwise(0L))
      .orderBy("mde_pct")
  }

  /** Observed-metrics pipeline filter: the reference's load keeps only
    * spend-carrying rows; here the monitored stage keeps urgent orders.
    */
  val ObservePredicate = "o_orderpriority = '1-URGENT'"

  /** X-OBSERVE: pipeline observability via `Dataset.observe` — named
    * accumulator-style metrics (row counts, exact cent sums) collected
    * on the rows FLOWING THROUGH a pass, before and after a filter
    * stage. This is the production monitoring idiom: the metrics cost
    * zero extra jobs (they piggyback on the one pass as
    * `CollectMetrics` nodes — a separate `count()` per stage would
    * rescan the 100 TB input twice) and they surface exactly what the
    * executed query saw, not what a drifted side-query recomputes. The
    * driver materializes the two metric rows — metrics-sized, not
    * data-sized — into the result frame. Oracle: the same aggregates
    * stated directly over the table.
    */
  def observeMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val obsIn = Observation("in")
    val obsOut = Observation("out")
    val monitored = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .observe(obsIn, count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      .filter(expr(ObservePredicate))
      .observe(obsOut, count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
    monitored.write.format("noop").mode("overwrite").save()
    val rows = Seq(
      ("in", obsIn.get("n_rows").asInstanceOf[Long], obsIn.get("sum_cents").asInstanceOf[Long]),
      ("out", obsOut.get("n_rows").asInstanceOf[Long], obsOut.get("sum_cents").asInstanceOf[Long]))
    import spark.implicits._
    rows.toDF("stage", "n_rows", "sum_cents").orderBy("stage")
  }

  // ---- lagged autocorrelation (X-AUTOCORR) -----------------------------

  /** X-AUTOCORR: lag-1..3 autocorrelation of each event type's daily
    * value series — the seasonality/persistence fingerprint (X-SEASONALITY
    * reads day-of-week means; this reads how much TODAY predicts
    * tomorrow, the feature a forecasting or anomaly model starts from).
    * The textbook estimator needs the float mean twice; expanded into the
    * N²-scaled integer domain it is exact:
    * num_k = N²·A_k − N·S·B_k + m_k·S², den = N²·C − N·S² with A/B/C/S
    * the exact lag cross-products, pair sums, squares, and totals, and
    * m_k the pair count. Intermediates live in DECIMAL(38,0) (HUGEINT in
    * the oracle — products reach ~10^24); the reported acf_ppm is
    * sign·(|num|·10^6 div den) so the one integral division is on
    * nonnegative operands — truncating and flooring engines agree.
    *
    * Scale shape: the fact-sized work is the ONE agg onto (type, day);
    * lags are lead() windows over calendar-bounded per-type series, the
    * moment rollup is type-sized, and the per-lag explode is 3 literal
    * structs.
    */
  def autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val led = daily.select(col("event_type"), col("x").cast(dec).as("x"),
      lead("x", 1).over(w).cast(dec).as("x1"),
      lead("x", 2).over(w).cast(dec).as("x2"),
      lead("x", 3).over(w).cast(dec).as("x3"))
    val agg = led.groupBy("event_type").agg(
      count(lit(1)).cast(dec).as("n"),
      sum("x").as("s"),
      sum(col("x") * col("x")).as("c"),
      sum(col("x") * col("x1")).as("a1"),
      sum(col("x") * col("x2")).as("a2"),
      sum(col("x") * col("x3")).as("a3"),
      sum(when(col("x1").isNotNull, col("x") + col("x1"))).as("b1"),
      sum(when(col("x2").isNotNull, col("x") + col("x2"))).as("b2"),
      sum(when(col("x3").isNotNull, col("x") + col("x3"))).as("b3"),
      sum(when(col("x1").isNotNull, lit(1L))).cast(dec).as("m1"),
      sum(when(col("x2").isNotNull, lit(1L))).cast(dec).as("m2"),
      sum(when(col("x3").isNotNull, lit(1L))).cast(dec).as("m3"))
    val lags = agg.select(col("event_type"), col("n"), col("s"), col("c"),
      explode(array((1 to 3).map(k => struct(
        lit(k.toLong).as("lag"),
        col(s"a$k").as("a"), col(s"b$k").as("b"), col(s"m$k").as("m"))): _*))
        .as("lk"))
      .select(col("event_type"), col("n"), col("s"), col("c"),
        col("lk.lag").as("lag"), col("lk.a").as("a"), col("lk.b").as("b"),
        col("lk.m").as("m"))
    lags.select(col("event_type"), col("lag"),
        col("n").cast("long").as("n_days"),
        coalesce(expr(
          """CAST(CASE WHEN n * n * a - n * s * b + m * s * s < 0 THEN -1 ELSE 1 END
            |  * ((abs(n * n * a - n * s * b + m * s * s) * 1000000)
            |     div nullif(n * n * c - n * s * s, 0)) AS BIGINT)""".stripMargin),
          lit(0L)).as("acf_ppm"))
      .orderBy("event_type", "lag")
  }

  // ---- CUSUM change-point detection (X-CHANGEPOINT) --------------------

  /** X-CHANGEPOINT: CUSUM change-point detection over each event type's
    * daily value series — the "did the metric shift, and WHEN" question
    * behind every pipeline incident review (X-DRIFT says two cohorts
    * differ; this finds the day the regime changed). The classic CUSUM
    * statistic S_t = Σ_{i≤t}(x_i − μ) needs the float mean μ = S/N; it
    * is computed here in the N-scaled integer domain instead —
    * N·S_t = N·P_t − t·S with P_t the prefix sum — so the argmax day
    * (max |N·S_t|, ties → earliest day) and the deviation magnitude are
    * exact integers on both engines. Before/after means come as
    * integer-cents floors of exact sums.
    *
    * Scale shape: one partial+final agg onto (type, day) — the only
    * fact-sized shuffle — then windows over per-type day series, which
    * are calendar-bounded regardless of corpus size (the X-DECAY /
    * X-SEASONALITY precedent).
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pre = daily.select(col("event_type"), col("day"), col("x"),
      sum("x").over(w).as("p"),
      row_number().over(w).cast("long").as("t"))
    val tot = daily.groupBy("event_type")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
    val dev = pre.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("day"), col("p"), col("t"),
        col("s"), col("n"),
        abs(col("n") * col("p") - col("t") * col("s")).as("dev"))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("dev").desc, col("day"))
    dev.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"), col("dev"),
        col("n").as("n_days"),
        expr("p div t").as("mean_before_cents"),
        coalesce(expr("(s - p) div nullif(n - t, 0)"), lit(0L))
          .as("mean_after_cents"))
      .orderBy("event_type")
  }

  // ---- difference-in-differences (X-DID) --------------------------------

  /** DiD period boundary: the fixture's 30-day event window split at its
    * midpoint (days 1–15 = pre, 16–30 = post) — a fixed literal, never a
    * data-dependent median, so the assignment is rerun- and
    * vintage-stable.
    */
  val DidCutoff = "2024-01-16"

  /** X-DID: difference-in-differences readout — the causal-inference
    * counterpart of X-AB-TEST's cross-sectional z²: when treatment is
    * assigned but the cohorts ALSO differ at baseline, the effect
    * estimate is (post−pre) in treatment MINUS (post−pre) in control,
    * cancelling both the time trend and the baseline gap. Treatment is
    * the deterministic `user_id mod 2` bucket (the experimentation-system
    * hash assignment, never `rand()`); periods split at [[DidCutoff]];
    * the outcome is per-user-period purchase spend. Work is ONE
    * partial+final agg over the facts onto per-user-period rows (the
    * shuffle carries each user twice at most), then a four-cell rollup —
    * n, exact cent sums, and user counts per (variant, period) — plus
    * the point estimate as one fixed IEEE expression over exact BIGINTs
    * reproduced verbatim in the oracle. Per-user aggregation first (not
    * per-event) keeps the cell means PER-USER means — the unit of
    * randomization — so heavy users don't silently re-weight the cells.
    */
  def did(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(to_date(col("ts")) >= to_date(lit(DidCutoff)), lit("post"))
          .otherwise(lit("pre")).as("period"),
        when(col("event_type") === "purchase",
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
          .otherwise(lit(0L)).as("cents"))
      .groupBy("user_id", "period")
      .agg(sum("cents").as("cents"))
      .select(pmod(col("user_id"), lit(2L)).as("variant"),
        col("period"), col("cents"))
    val cells = perUser.groupBy().agg(
      sum(when(col("variant") === 1L && col("period") === "pre", 1L)
        .otherwise(0L)).as("n_t_pre"),
      sum(when(col("variant") === 1L && col("period") === "pre", col("cents"))
        .otherwise(0L)).as("c_t_pre"),
      sum(when(col("variant") === 1L && col("period") === "post", 1L)
        .otherwise(0L)).as("n_t_post"),
      sum(when(col("variant") === 1L && col("period") === "post", col("cents"))
        .otherwise(0L)).as("c_t_post"),
      sum(when(col("variant") === 0L && col("period") === "pre", 1L)
        .otherwise(0L)).as("n_c_pre"),
      sum(when(col("variant") === 0L && col("period") === "pre", col("cents"))
        .otherwise(0L)).as("c_c_pre"),
      sum(when(col("variant") === 0L && col("period") === "post", 1L)
        .otherwise(0L)).as("n_c_post"),
      sum(when(col("variant") === 0L && col("period") === "post", col("cents"))
        .otherwise(0L)).as("c_c_post"))
    // nullif guards each cell divisor (the bootstrapCi idiom): an empty
    // (variant, period) cell yields NULL on BOTH engines, never a Spark
    // NaN/Infinity that DuckDB's NULL division would hash-diverge from
    def m(c: String, n: String) =
      col(c).cast("double") / nullif(col(n), lit(0L)).cast("double")
    cells.select(
      col("n_t_pre"), col("c_t_pre"), col("n_t_post"), col("c_t_post"),
      col("n_c_pre"), col("c_c_pre"), col("n_c_post"), col("c_c_post"),
      ((m("c_t_post", "n_t_post") - m("c_t_pre", "n_t_pre")) -
        (m("c_c_post", "n_c_post") - m("c_c_pre", "n_c_pre")))
        .as("did_cents"))
  }

  // ---- Kaplan–Meier survival (X-SURVIVAL) -------------------------------

  /** Users whose last activity falls within this many days of the fixture
    * horizon are right-CENSORED (they may still be active), not churned —
    * skipping censoring would bias the curve down (the classic KM error).
    */
  val CensorLastDays = 2

  /** X-SURVIVAL: the Kaplan–Meier churn curve — X-RETENTION reports
    * day-over-day return rates; this estimates the full survival function
    * S(t) = P(user still active after t days) with right-censoring
    * handled correctly: a user whose last event sits near the
    * observation horizon leaves the risk set WITHOUT counting as a
    * death. Lifetime = last-event day − first-event day; deaths at t are
    * uncensored users with lifetime t; the at-risk count n_t is the
    * suffix sum of (deaths + censored) at ≥ t; and the KM product
    * S(t) = Π_{s≤t, d_s>0} (n_s − d_s)/n_s runs as an EXACT sequential
    * integer-ppm fold (S ← S·(n−d) div n, nonneg operands) over the
    * day-ordered step list — `aggregate` over a collected array here,
    * `list_reduce` over the identical list in the oracle, so the curve
    * matches bit for bit with no float product to re-order.
    *
    * Scale shape: the ONE fact-sized shuffle is the per-user (min, max)
    * agg; everything after lives in the day domain (≤ horizon rows —
    * the X-SEASONALITY / X-CHANGEPOINT calendar-bounded convention), so
    * the suffix window, the collected step list, and the per-row prefix
    * folds are metadata-sized regardless of corpus size.
    */
  def survival(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val horizon = days.agg(max("day").as("max_day"))
    val perUser = days.groupBy("user_id")
      .agg(min("day").as("entry"), max("day").as("exit"))
      .crossJoin(broadcast(horizon))
      .select(
        datediff(col("exit"), col("entry")).cast("long").as("t"),
        when(col("exit") >= date_sub(col("max_day"), CensorLastDays), 1L)
          .otherwise(0L).as("cens"))
    survivalOf(perUser)
  }

  /** KM core over any (t: long, cens: 0/1) lifetime frame — split out so
    * the property law can drive it with generated populations against a
    * sequential reference.
    */
  def survivalOf(perUser: DataFrame): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.expressions.Window
    val byT = perUser.groupBy("t")
      .agg(sum(lit(1L) - col("cens")).as("d"), sum("cens").as("c"))
    val wSuffix = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // day-domain window: ≤ horizon rows, never data-sized. Cut: both
    // the step-list agg and the output traverse it, and an uncut frame
    // would re-run the fact-sized per-user agg underneath twice.
    val risk = sc.cut(byT.withColumn("n_at_risk", sum(col("d") + col("c")).over(wSuffix)))
    val steps = risk.agg(collect_list(struct(col("t"), col("n_at_risk").as("n"),
      col("d"))).as("steps"))
    risk.crossJoin(broadcast(steps))
      .withColumn("survival_ppm", expr(
        """aggregate(
          |  array_sort(filter(steps, s -> s.t <= t AND s.d > 0)),
          |  CAST(1000000 AS BIGINT),
          |  (acc, s) -> acc * (s.n - s.d) div s.n)""".stripMargin))
      .select(col("t"), col("n_at_risk"), col("d").as("n_deaths"),
        col("c").as("n_censored"), col("survival_ppm"))
      .orderBy("t")
  }

  // ---- CUPED variance-reduced experiment readout (X-CUPED) --------------

  /** X-CUPED: controlled-experiment variance reduction using pre-period
    * data (Deng et al., WSDM 2013) — the adjustment every mature
    * experimentation platform applies before reading an A/B metric:
    * ŷ_i = y_i − θ(x_i − x̄) with x the PRE-period value of the same
    * metric and θ = cov(x,y)/var(x), which cancels the between-user
    * variance the randomization didn't balance. Periods split at
    * [[DidCutoff]], variants are the `user_id mod 2` hash bucket, and
    * the whole readout reduces to EXACT moments: one per-user-period agg
    * (the only fact-sized shuffle), a pivot to (pre, post) per user,
    * then ONE global agg of {n, Σx, Σy, Σxy, Σx², per-variant n/Σx/Σy} —
    * θ, the raw diff, the CUPED diff, and the variance-reduction ratio
    * ρ² = cov²/(var_x·var_y) are fixed IEEE expressions over those
    * BIGINT moments, reproduced verbatim in the oracle (Σy² rides in
    * DECIMAL-safe range at fixture scale; the moments are the textbook
    * algebraic sufficient statistics, which is why CUPED scales).
    */
  def cuped(spark: SparkSession, sfDir: String): DataFrame =
    cupedOf(Tables.events(spark, sfDir))

  /** CUPED core over any events-shaped (user_id, ts, event_type, value)
    * frame — split out for the property law's moment-reference check.
    */
  def cupedOf(ev: DataFrame): DataFrame = {
    val perUser = ev
      .select(col("user_id"),
        when(to_date(col("ts")) >= to_date(lit(DidCutoff)), lit("post"))
          .otherwise(lit("pre")).as("period"),
        when(col("event_type") === "purchase",
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
          .otherwise(lit(0L)).as("cents"))
      .groupBy("user_id")
      .agg(
        sum(when(col("period") === "pre", col("cents")).otherwise(0L)).as("x"),
        sum(when(col("period") === "post", col("cents")).otherwise(0L)).as("y"))
      .select(col("x"), col("y"), pmod(col("user_id"), lit(2L)).as("v"))
    val m = perUser.groupBy().agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("v") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("v") === 0L, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("v") === 0L, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("v") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("v") === 1L, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("v") === 1L, col("y")).otherwise(0L)).as("sy_b"))
    def d(c: String) = col(c).cast("double")
    val cov = d("n") * d("sxy") - d("sx") * d("sy")
    val varx = d("n") * d("sxx") - d("sx") * d("sx")
    val vary = d("n") * d("syy") - d("sy") * d("sy")
    val theta = cov / varx
    val rawDiff = d("sy_a") / d("n_a") - d("sy_b") / d("n_b")
    val cupedDiff = rawDiff - theta * (d("sx_a") / d("n_a") - d("sx_b") / d("n_b"))
    m.select(col("n"), col("n_a"), col("n_b"),
      theta.as("theta"),
      rawDiff.as("diff_raw"),
      cupedDiff.as("diff_cuped"),
      (cov * cov / (varx * vary)).as("rho2"))
  }

  // ---- Poisson-bootstrap confidence interval (X-BOOTSTRAP) --------------

  /** Bootstrap replica count (a power of two keeps the CI rank literals
    * round: lo = rank 2, hi = rank 63 of 64 — the ~2.5% / ~97.5% order
    * statistics).
    */
  val BootstrapB = 64

  /** Poisson(1) CDF thresholds scaled by the poly-hash modulus 2^31−1,
    * pinned as literals so both engines draw the identical counts: a
    * uniform hash h < t_k ⇒ weight k. Truncated at 5 (P(X>5) ≈ 0.06%) —
    * documented cap, not a silent one.
    */
  val PoissonThresholds: Seq[Long] =
    Seq(790015083L, 1580030167L, 1975037709L, 2106706890L, 2139624185L)

  /** Affine post-scramble constants (mod 2^31−1) applied to the
    * `poly_hash("user:b")` draw: the raw polynomial hash maps adjacent
    * user ids to adjacent values (the low-order term moves by 1), so a
    * CDF threshold would give consecutive users near-identical weights;
    * one multiplicative step of ~2^30 scatters adjacency across the
    * whole range while staying exactly reproducible in integer SQL.
    */
  val ScrambleMul = 1103515245L
  val ScrambleAdd = 12345L
  val HashMod = 2147483647L

  /** X-BOOTSTRAP: Poisson-bootstrap confidence interval for the A/B
    * conversion-rate difference — X-AB-TEST reports the z² point
    * statistic; this reports the resampling interval, via the bootstrap
    * variant built FOR massive data: instead of drawing n rows with
    * replacement B times (which needs global coordination), each user
    * independently receives a Poisson(1) replica weight per bootstrap
    * replicate, drawn from the deterministic hash
    * h(user, b) = (poly_hash("user:b")·[[ScrambleMul]] + [[ScrambleAdd]])
    * mod 2^31−1 against pinned CDF literals ([[PoissonThresholds]]) — no
    * RNG, rerun-identical, and exactly mirrored in the oracle. Per
    * replicate the weighted two-proportion difference is the exact
    * integer ppm `c·10^6 div n` per variant; the CI is the 2nd / 63rd
    * order statistic of the 64 replicate diffs (with replica id as the
    * total-order tie-break).
    *
    * Scale shape: conversion is the same ONE per-user partial+final agg
    * as X-AB-TEST; the replica explode fans each user row ×64 but feeds
    * a partial agg keyed on (replica, variant) — the map-side combine
    * collapses every partition to ≤128 counter rows, so the exchange
    * carries counters, not the fanout. The 64-row replicate table then
    * sorts driver-side trivially.
    */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .groupBy("user_id")
      .agg(sum("is_p").as("np"))
      .select(col("user_id"),
        when(col("np") >= PowerBuyerMin, 1L).otherwise(0L).as("conv"),
        pmod(col("user_id"), lit(2L)).as("variant"))
    val t = PoissonThresholds
    val weighted = users
      .select(col("user_id"), col("conv"), col("variant"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("h",
        pmod(graft.functions.PolyHash.poly_hash(
          concat_ws(":", col("user_id"), col("b")), 131) * ScrambleMul
          + ScrambleAdd, lit(HashMod)))
      .withColumn("w",
        when(col("h") < t(0), 0L).when(col("h") < t(1), 1L)
          .when(col("h") < t(2), 2L).when(col("h") < t(3), 3L)
          .when(col("h") < t(4), 4L).otherwise(5L))
    val reps = weighted.groupBy("b").agg(
      sum(when(col("variant") === 0L, col("w")).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0L, col("w") * col("conv")).otherwise(0L)).as("c_a"),
      sum(when(col("variant") === 1L, col("w")).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1L, col("w") * col("conv")).otherwise(0L)).as("c_b"))
      .select(col("b"),
        (expr("c_a * 1000000 div nullif(n_a, 0)") -
          expr("c_b * 1000000 div nullif(n_b, 0)")).as("diff_ppm"))
    val ranked = reps.withColumn("r",
      row_number().over(Window.orderBy(col("diff_ppm"), col("b"))))
    // 64 rows total: the unpartitioned ranking window is replicate-sized
    // (B rows), never data-sized — same class as a driver-side sort.
    val point = users.groupBy().agg(
        sum(when(col("variant") === 0L, col("conv")).otherwise(0L)).as("pca"),
        sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("pna"),
        sum(when(col("variant") === 1L, col("conv")).otherwise(0L)).as("pcb"),
        sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("pnb"))
      .select((expr("pca * 1000000 div nullif(pna, 0)") -
        expr("pcb * 1000000 div nullif(pnb, 0)")).as("point_ppm"))
    ranked.groupBy().agg(
      count(lit(1)).as("n_replicates"),
      min(when(col("r") === 2, col("diff_ppm"))).as("lo_ppm"),
      min(when(col("r") === BootstrapB - 1, col("diff_ppm"))).as("hi_ppm"))
      .crossJoin(point)
      .select(col("n_replicates"), col("point_ppm"), col("lo_ppm"), col("hi_ppm"))
  }
}
