package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}
import graft.functions.RollingHash.rolling_hash

/** X-SAMPLE (training-data pipeline): deterministic corpus splitting and
  * budgeted sampling — the two selection operators every large-scale
  * data mix needs, expressed so the exact survivor set is reproducible
  * on any engine (and therefore DuckDB-oracle hash-checkable).
  *
  * Both key off the codegen'd 64-bit rolling hash of the document text
  * ([[graft.functions.RollingHash]]), not `rand()`: a content hash gives
  * a uniform, stable pseudo-random draw that survives re-runs, repartitions
  * and backfills — the property a production split needs (a random split
  * re-shuffles documents between train and test on every run).
  */
object Sampling {

  /** 0-7 → train, 8 → val, 9 → test (80/10/10). */
  val SplitBuckets = 10

  /** pmod of the signed 64-bit content hash — mirrored in SQL as
    * `((fp % 10) + 10) % 10`.
    */
  private def bucket = pmod(rolling_hash(col("text")), lit(SplitBuckets.toLong))

  /** Split name of a bucket value (shared by [[split]] and
    * [[decontamination]]).
    */
  def splitName(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(b <= 7, "train").when(b === 8, "val").otherwise("test")

  /** Per-document split assignment: (doc_id, split). */
  def assignments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), splitName(bucket).as("split"))

  /** X-SPLIT: deterministic 80/10/10 train/val/test assignment by content
    * hash, audited per (source, split): doc and token counts. Narrow
    * per-row work + one partial-aggregated shuffle; no sort, no rand().
    */
  def split(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        bucket.as("b"))
      .withColumn("split", splitName(col("b")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("source", "split")

  /** Per-source token budget for [[tokenBudget]] — sized to keep roughly
    * half of each fixture source, so both keep and drop paths execute.
    */
  val TokenBudget = 600L

  /** X-DECONTAM: train/eval contamination sweep — NEAR-duplicate pairs
    * (MinHash-banded candidates, slot-agreement estimate ≥ the near-dup
    * threshold) that landed in DIFFERENT splits. Exact duplicates can
    * never cross splits here (same text → same content hash → same
    * split; that is WHY the split keys off the content hash), so every
    * reported pair is a genuine near-dup leak an eval-decontamination
    * pass must drop. Reuses the memoized signature table; joins are on
    * doc ids and banded keys only.
    */
  def decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.minhashPairsTable(spark, sfDir)
      .filter(col("est_jaccard") >= Dedup.NearDupThreshold)
    val sp = assignments(spark, sfDir)
    pairs
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("split_a"), col("id_b"), col("split_b"), col("est_jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** X-CLEAN-SPLIT: the leakage-safe split X-DECONTAM's report exists to
    * produce — train/val documents that are near-dups (est ≥ the
    * near-dup threshold) of ANY test document are EVICTED, so the
    * shipped training set cannot leak the eval set through paraphrase
    * dups (exact dups can't cross splits by construction — the split
    * keys off the content hash). Output per (source, split): doc/token
    * totals, evicted doc/token counts, and an evicted-id checksum
    * pinning the exact eviction set; test rows evict nothing (the eval
    * set is the thing being protected, not purged).
    *
    * Scale shape: the test id set is eval-sized (broadcastable), the
    * near-dup pairs come from the memoized banded table, eviction is a
    * pair-bounded semi-join — no corpus×corpus work anywhere.
    */
  def cleanSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val sp = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        splitName(bucket).as("split"))
    val pairs = Dedup.minhashPairsTable(spark, sfDir)
      .filter(col("est_jaccard") >= Dedup.NearDupThreshold)
    val sym = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
    val testIds = sp.filter(col("split") === "test").select(col("doc_id").as("b"))
    val evict = sym.join(broadcast(testIds), Seq("b"))
      .select(col("a").as("doc_id")).distinct()
      .join(sp.filter(col("split") =!= "test").select("doc_id"), Seq("doc_id"), "left_semi")
    sp.join(broadcast(evict.withColumn("ev", lit(true))), Seq("doc_id"), "left")
      .withColumn("evicted", coalesce(col("ev"), lit(false)))
      .groupBy("source", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        sum(when(col("evicted"), 1L).otherwise(0L)).as("n_evicted"),
        sum(when(col("evicted"), col("n_tokens")).otherwise(0L)).as("evicted_tokens"),
        sum(when(col("evicted"), col("doc_id")).otherwise(0L)).as("evicted_ids_sum"))
      .orderBy("source", "split")
  }

  /** N-gram width for [[decontaminationNgram]] — wide enough that a
    * shared gram means copied text, not phrase reuse (the GPT-3-style
    * 13-gram rule, sized down to the fixture's ~short docs).
    */
  val DecontamGramN = 8

  /** X-DECONTAM-NGRAM: exact n-gram eval decontamination — flag every
    * TRAIN document sharing at least one [[DecontamGramN]]-word-gram with
    * any TEST document (the exact-overlap rule eval decontamination
    * actually ships with, complementing X-DECONTAM's near-dup sweep:
    * that catches paraphrase-level leaks, this one verbatim spans).
    * Splits are the X-SPLIT content-hash assignment, so the flagged set
    * is deterministic end-to-end.
    *
    * Scale shape: the test side is the small side by construction (an
    * eval set vs a 100 TB corpus — there it broadcasts outright); grams
    * explode once per side and meet in one equi-join on the gram string;
    * flagged docs come back as a LEFT SEMI (no row multiplication from
    * multi-gram matches), then one partial+final rollup per source.
    */
  def decontaminationNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val n = DecontamGramN
    val sp = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), splitName(bucket).as("split"),
        TextAnalysis.tokens(col("text")).as("toks"))
    def grams(df: DataFrame): DataFrame = df
      .filter(size(col("toks")) >= n)
      .select(col("source"), col("doc_id"),
        explode(array_distinct(expr(
          s"transform(sequence(0, size(toks)-$n), i -> array_join(slice(toks, i+1, $n), ' '))")))
          .as("g"))
    val testGrams = grams(sp.filter(col("split") === "test"))
      .select(col("g")).distinct()
    val train = sp.filter(col("split") === "train")
    val flagged = grams(train)
      .join(testGrams, Seq("g"), "left_semi")
      .select(col("source"), col("doc_id")).distinct()
    train.groupBy("source").agg(count(lit(1)).as("n_train"))
      .join(flagged.groupBy("source").agg(count(lit(1)).as("n_flagged")),
        Seq("source"), "left")
      .select(col("source"), col("n_train"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (coalesce(col("n_flagged"), lit(0L)).cast("double") /
          col("n_train").cast("double")).as("flag_rate"))
      .orderBy("source")
  }

  /** Per-stratum keep rates (percent of the 100-bucket hash space) for
    * [[stratified]]: the mix a training pipeline actually wants —
    * downsample the torrent (views/clicks), keep every rare high-value
    * event, drop the noise stratum outright. The 0% stratum exercises
    * the empty-result path.
    */
  val StrataPct: Seq[(String, Int)] = Seq(
    "click" -> 10, "error" -> 0, "purchase" -> 100, "signup" -> 50, "view" -> 5)

  /** X-STRATIFIED: deterministic stratified sampling — per-event_type
    * keep rates applied via the content hash of the event id, NOT
    * `rand()` or `sampleBy` (both resample on every run/retry; a lineage
    * recompute after executor loss would change the sample mid-job).
    * `pmod(hash64(id), 100) < pct` keeps an exact, stable pseudo-uniform
    * slice per stratum. Narrow per-row work folded into one partial+final
    * agg — the keep decision never shuffles unkept rows anywhere.
    */
  def stratified(spark: SparkSession, sfDir: String): DataFrame = {
    val pct = StrataPct.foldLeft(lit(-1)) { case (acc, (t, p)) =>
      when(col("event_type") === t, lit(p)).otherwise(acc)
    }
    import org.apache.spark.sql.types.DecimalType
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        pmod(rolling_hash(col("event_id").cast("string")), lit(100L)).as("b"),
        pct.as("pct"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("b") < col("pct"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("b") < col("pct"),
            col("value").cast(DecimalType(18, 2)))), lit(0).cast(DecimalType(18, 2)))
          .cast("double").as("kept_value"))
      .orderBy("event_type")
  }

  /** X-PACK: sequence packing — the concatenate-then-chunk step that
    * turns a document corpus into fixed-length training sequences: per
    * source, docs concatenate in doc_id order into one token stream and
    * the stream splits every [[SeqLen]] tokens. Each doc's chunk span
    * falls out of a running token-offset window (exact integer
    * arithmetic): first/last chunk = offset div SeqLen, a doc straddles
    * iff they differ. Output is the packing profile a dataloader needs —
    * chunk count, straddler count, tail fill. One window per source (the
    * same shape at 100 TB: each source's stream is an independent
    * partition; within a source the order is a stable sort on doc_id,
    * exactly how deterministic training shards are cut).
    */
  val SeqLen = 512L

  def pack(spark: SparkSession, sfDir: String): DataFrame =
    packProfile(Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")))

  /** Core packing profile over any (source, doc_id, n_tokens) frame —
    * separated so the property spec can drive it with generated counts.
    */
  def packProfile(perDoc: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc
      .withColumn("end_off", sum("n_tokens").over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .withColumn("straddles", // exact integer div — no float in sight
        when(expr(s"start_off div $SeqLen") =!= expr(s"(end_off - 1) div $SeqLen"), 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("straddles").as("n_straddlers"),
        max("end_off").as("stream_len"))
      .select(
        col("source"), col("n_docs"), col("total_tokens"),
        expr(s"(stream_len + ${SeqLen - 1}) div $SeqLen").as("n_chunks"),
        col("n_straddlers"),
        (col("stream_len") - (expr(s"(stream_len + ${SeqLen - 1}) div $SeqLen") - 1L) * SeqLen)
          .as("tail_fill"))
      .orderBy("source")
  }

  /** X-TOKEN-BUDGET: budgeted downsampling — walk each source's documents
    * in content-hash order (a stable uniform shuffle; doc_id breaks
    * exact-duplicate ties) and keep documents while the running token
    * total stays within budget. This is the standard way a training mix
    * caps a source's contribution. The running sum is a per-source
    * window: at scale that is repartition-by-source + sort-within —
    * bounded by the largest single source, never a global sort.
    */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("fp", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        rolling_hash(col("text")).as("fp"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("running", sum("n_tokens").over(w))
      .filter(col("running") <= TokenBudget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("kept_tokens"))
      .orderBy("source")
  }

  /** First positions of the mixed stream that get checked. */
  val InterleaveN = 60

  /** X-INTERLEAVE: deterministic weighted source mixing — the curriculum
    * / mixture sampler that builds one training stream from several
    * corpora at target ratios. Every document gets a PRIORITY
    * `rank_in_source / weight(source)` where the rank orders each source
    * by content hash (rerun-stable, no rand(), same fp as X-SPLIT);
    * consuming documents by ascending priority yields source proportions
    * that converge to the weights — the low-discrepancy stride-mixing
    * scheme, derandomized. Weights are the alphabetical source rank, so
    * the operator is literal-free at any source count.
    *
    * Scale shape: the rank is a PARTITIONED window (per-source sort, the
    * token-budget idiom); the weight table is a tiny broadcast (its
    * dense_rank window runs over the DISTINCT sources — a handful of
    * rows, not the corpus); the head of the stream is
    * TakeOrderedAndProject, never a global sort. Priority is one integer
    * division — bit-identical in the oracle.
    */
  def interleave(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val weights = docs.select("source").distinct()
      .withColumn("wt",
        dense_rank().over(Window.orderBy("source")).cast("double"))
    val ranked = docs
      .select(col("source"), col("doc_id"), rolling_hash(col("text")).as("fp"))
      .withColumn("rank_in_source",
        row_number().over(Window.partitionBy("source").orderBy("fp", "doc_id")).cast("long"))
    ranked.join(broadcast(weights), "source")
      .select(col("source"), col("doc_id"), col("rank_in_source"),
        (col("rank_in_source").cast("double") / col("wt")).as("priority"))
      .orderBy("priority", "source", "doc_id").limit(InterleaveN)
  }

  /** Sample size per key for [[sampleTopK]]. */
  val SamplePerKey = 7

  /** X-SAMPLE-TOPK: deterministic fixed-size per-key sampling — "give me
    * K representative documents per source" — as hash-order top-k: keep
    * each source's K smallest content hashes (doc_id tiebreak). A content-
    * hash order is a uniform pseudo-random draw that is rerun- and
    * backfill-stable (the [[split]] argument), which makes this the
    * distributed form of per-key reservoir sampling with none of a
    * reservoir's sequential state.
    *
    * Physical plan: the custom [[graft.plans.TopKPerKey]] operator —
    * partial bounded heaps per input partition, so the exchange carries
    * ≤ K rows per source per partition instead of every row that the
    * `row_number() ≤ K` window formulation (the oracle's) would shuffle
    * and sort. Same partial/final shape as an aggregate, applied to
    * selection — at 100 TB the shuffle is K·partitions rows per key,
    * not the corpus.
    */
  def sampleTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), rolling_hash(col("text")).as("fp"))
    graft.plans.TopKPerKey(ranked,
        keys = Seq("source"),
        order = Seq(("fp", false), ("doc_id", false)),
        k = SamplePerKey)
      .select(col("source"), col("rank"), col("doc_id"), col("fp"))
      .orderBy("source", "rank")
  }

  /** Deterministic partition count for [[globalIds]]' range exchange. The
    * assigned ids are INDEPENDENT of this number (they depend only on the
    * total order), so at scale it is a free tuning knob.
    */
  val GlobalIdPartitions = 8

  /** X-GLOBAL-IDS: contiguous 0-based global sample ids over a
    * deterministic total order (content hash, doc_id) — the "assign every
    * training example a stable dense id" op (shard manifests, example
    * dedup ledgers, resumable data loaders all want dense stable ids).
    *
    * The SCALABLE formulation, not the window one: `row_number() OVER
    * (ORDER BY …)` funnels the corpus through ONE partition. Instead:
    * range-repartition on the order key + sort within partitions (a
    * global sort's exchange, each partition an ordered disjoint range),
    * count rows per partition (one metadata-sized aggregate — ≤ one row
    * per partition), prefix-sum those counts into per-partition offsets
    * broadcast back, and add `offset + local index` per partition. The
    * per-partition zip is genuine imperative per-partition logic — the
    * documented `mapPartitions` case. Ids equal the window formulation's
    * exactly (the oracle IS `row_number() - 1`) because range partitions
    * are ordered and disjoint whatever boundaries the range sampler
    * picks — the unique (fp, doc_id) key means no tie straddles a
    * boundary.
    */
  def globalIds(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // CACHED before the counts job: the counts job and the id-assignment
    // job must see the SAME partitioning, and repartitionByRange re-samples
    // its boundaries per execution (the sampler's seed varies per run, and
    // at real scale the reservoir only sees a subset, so two executions can
    // legitimately split rows differently around boundary values). Caching
    // pins the materialized partitions; both jobs then read the one layout.
    val out = Scope.run { sc =>
      val ranged = sc.keep(Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"), rolling_hash(col("text")).as("fp"))
        .repartitionByRange(GlobalIdPartitions, col("fp"), col("doc_id"))
        .sortWithinPartitions("fp", "doc_id")
        .as[(String, Long, Long)])
      // one light job: per-partition row counts (metadata-sized: ≤ one row
      // per partition, same license as the Bloom sketch bytes)
      val counts = ranged.mapPartitions { it =>
        Iterator.single(org.apache.spark.TaskContext.getPartitionId() -> it.size.toLong)
      }.collect().toMap
      val offsets = (0 until GlobalIdPartitions).scanLeft(0L) {
        case (acc, pid) => acc + counts.getOrElse(pid, 0L)
      }.toArray // offsets(pid) = rows before partition pid
      val bc = spark.sparkContext.broadcast(offsets)
      val withIds = ranged.mapPartitions { it =>
        val base = bc.value(org.apache.spark.TaskContext.getPartitionId())
        it.zipWithIndex.map { case ((source, docId, fp), i) =>
          (source, docId, fp, base + i)
        }
      }.toDF("source", "doc_id", "fp", "id")
      // seal the per-source rollup (it is ≤ one row per source) so the
      // corpus-sized cache can be released before returning
      sc.seal(withIds
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          min("id").as("min_id"),
          max("id").as("max_id"),
          sum("id").as("sum_id"),
          sum(col("id") * col("doc_id")).as("id_checksum"))
        .orderBy("source"))
    }
    // LOUD dense-permutation gate: the cache pins one partitioning for
    // both jobs, but a cache is best-effort — if an executor died and a
    // partition recomputed through a re-sampled range exchange, the
    // offsets no longer match and ids gap/duplicate. That must never be
    // silent: the eager rollup is already on the driver's side of a
    // localCheckpoint, so the 0..N-1 invariants are one cheap collect.
    val rows = out.collect()
    val n = rows.map(_.getLong(1)).sum
    val ok = rows.map(_.getLong(2)).min == 0L &&
      rows.map(_.getLong(3)).max == n - 1 &&
      rows.map(_.getLong(4)).sum == n * (n - 1) / 2
    if (!ok) throw new IllegalStateException(
      "globalIds lost its pinned partitioning between the counts job and " +
        "the id-assignment job (cache eviction/executor loss) — ids are " +
        "not a dense 0..N-1 permutation; rerun")
    out
  }

  /** Per-source resampling rate in PERCENT of the 100-bucket hash space
    * for [[dsir]], derived from the source's numeric suffix so the
    * oracle mirrors it with one `substr`+cast: (idx mod 5) * 60 →
    * {0, 60, 120, 180, 240}. The grid deliberately spans all three
    * regimes — drop entirely (0), downsample (60), and upsample with
    * whole-corpus repetition plus a fractional slice (120..240).
    */
  def dsirPct(source: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (substring(source, 4, 10).cast("long") % 5L) * 60L

  /** X-DSIR: importance resampling by per-domain target rates — the
    * DSIR-style "reweight the mix toward target domains" selection step.
    * A rate above 100% means repetition: every document contributes
    * `rate div 100` whole copies plus one more iff its content-hash
    * bucket falls under `rate mod 100` — so the expected copy count is
    * exactly rate/100, the draw is stable across reruns/backfills (a
    * `rand()` draw would resample on every lineage recompute), and the
    * survivor multiset is bit-reproducible on any engine. Narrow per-row
    * work (hash, one multiply-add) folded into one partial+final agg —
    * unkept rows never shuffle.
    */
  def dsir(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        pmod(rolling_hash(col("text")), lit(100L)).as("b"),
        dsirPct(col("source")).as("pct"))
      .withColumn("copies",
        expr("pct div 100") + when(col("b") < col("pct") % 100L, 1L).otherwise(0L))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("copies").as("n_sampled"),
        sum(col("copies") * col("n_tokens")).as("sampled_tokens"))
      .orderBy("source")

  /** Per-source target token share in percent for [[mixture]] —
    * (idx mod 4 + 1) * 2 over the 20 fixture sources sums to exactly
    * 100; mirrored in SQL from the source suffix like [[dsirPct]].
    */
  def mixturePct(source: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (substring(source, 4, 10).cast("long") % 4L + 1L) * 2L

  /** X-MIXTURE: domain-mixing weights — given a target token share per
    * source, the per-source sampling weight that transforms the observed
    * mix into the target mix: `w = target_share · total_tokens /
    * (100 · source_tokens)`. This is the planning step ahead of X-DSIR:
    * the weight table it emits IS the rate input a resampling pass
    * consumes (w < 1 downsample, w > 1 repeat). Exact integer token
    * counts on both sides of ONE division per source (bit-deterministic
    * on both engines); corpus total via a broadcast one-row aggregate,
    * so the fact-sized work is a single partial+final agg.
    */
  def mixture(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    val total = perSource.agg(sum("tokens").as("total_tokens"))
    perSource
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("tokens"),
        mixturePct(col("source")).as("target_pct"),
        ((mixturePct(col("source")) * col("total_tokens")).cast("double") /
          (col("tokens") * 100L).cast("double")).as("weight"))
      .orderBy("source")
  }

  /** Fixed-point scale for [[tempMix]]'s integer square root: s =
    * isqrt(tokens · 10^6) ≈ 1000·√tokens carries three extra decimal
    * digits of precision through the integer-only weight division.
    */
  val TempMixScale = 1000000L

  /** X-TEMP-MIX: temperature-scaled source mixing — the α = 1/2
    * flattening every multilingual/multi-domain pretraining recipe
    * applies (mC4, XLM-R: p_i ∝ c_i^α) so low-resource sources aren't
    * drowned by head domains, sitting beside X-MIXTURE's explicit-target
    * weights as the "no target known, just flatten" default. The
    * irrational c^0.5 is made EXACT on both engines via an integer
    * square root: s_i = isqrt(tokens_i · 10^6), computed as
    * floor(sqrt(double)) — sqrt is IEEE correctly-rounded and the
    * operand < 2^53 is exactly representable, so the float result is off
    * by at most one ulp — then clamped to the true floor with one
    * integer CASE step (the adjustment is provably ≤ 1), mirrored
    * verbatim in the oracle. Weights are then pure integer ppm:
    * raw_ppm = tokens·10^6 div total vs temp_ppm = s·10^6 div Σs — the
    * before/after table showing exactly how much the tail gets boosted.
    * Scale shape: identical to X-MIXTURE — one fact-sized partial+final
    * agg, then source-domain arithmetic against a broadcast one-row
    * total.
    */
  def tempMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    val x = col("tokens") * TempMixScale
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    // exact integer sqrt: the float floor is within ±1 of truth
    val s = when((s0 + 1L) * (s0 + 1L) <= x, s0 + 1L)
      .otherwise(when(s0 * s0 > x, s0 - 1L).otherwise(s0))
    val scaled = perSource.withColumn("s", s)
    val totals = scaled.agg(
      sum("tokens").as("total_tokens"), sum("s").as("total_s"))
    scaled
      .crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("tokens"), col("s"),
        expr("tokens * 1000000 div total_tokens").as("raw_ppm"),
        expr("s * 1000000 div total_s").as("temp_ppm"))
      .orderBy("source")
  }

  /** Shard count for [[shardManifest]]. Like [[GlobalIdPartitions]], the
    * cut points depend only on the total order and the corpus token sum,
    * never on this exchange's partition count.
    */
  val NShards = 8

  /** X-SHARD: token-balanced contiguous shard manifest — cut the corpus,
    * walked in the stable (content hash, doc_id) total order, into
    * [[NShards]] shards of near-equal TOKEN mass (not doc count): shard
    * of a doc = `tokens_before · N div total_tokens`, all exact integers.
    * This is the manifest a distributed trainer actually loads from —
    * equal-token shards equalize step time; equal-doc shards don't (doc
    * length is heavy-tailed).
    *
    * Scale shape: [[globalIds]]' prefix-sum machinery with token sums in
    * place of row counts — range exchange on the order key, one
    * metadata-sized per-partition token-sum job, broadcast offsets, then
    * a per-partition running sum (`mapPartitions` — genuine sequential
    * per-partition state). No global window, no single-reducer sort.
    */
  def shardManifest(spark: SparkSession, sfDir: String): DataFrame =
    shardManifestOf(Tables.documents(spark, sfDir)
      .select(col("doc_id"), rolling_hash(col("text")).as("fp"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")))

  /** Core shard-cut over any (doc_id, fp, n_tokens) frame — separated so
    * the property law can drive it with generated corpora against a
    * sequential prefix-sum reference.
    */
  def shardManifestOf(perDoc: DataFrame): DataFrame = {
    val spark = perDoc.sparkSession
    import spark.implicits._
    val n = NShards.toLong
    // cache pins one range partitioning for both jobs ([[globalIds]])
    val (out, totalTokens) = Scope.run { sc =>
      val ranged = sc.keep(perDoc
        .select(col("doc_id"), col("fp"), col("n_tokens"))
        .repartitionByRange(GlobalIdPartitions, col("fp"), col("doc_id"))
        .sortWithinPartitions("fp", "doc_id")
        .as[(Long, Long, Long)])
      val tokSums = ranged.mapPartitions { it =>
        var s = 0L; it.foreach(s += _._3)
        Iterator.single(org.apache.spark.TaskContext.getPartitionId() -> s)
      }.collect().toMap
      val offsets = (0 until GlobalIdPartitions).scanLeft(0L) {
        case (acc, pid) => acc + tokSums.getOrElse(pid, 0L)
      }.toArray // offsets(pid) = tokens before partition pid
      val totalTokens = offsets.last
      require(totalTokens > 0, "shardManifest: empty corpus")
      val bc = spark.sparkContext.broadcast(offsets)
      val sharded = ranged.mapPartitions { it =>
        var before = bc.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (docId, _, nTok) =>
          // clamp: a zero-token doc sitting at the exact end of the order
          // has tokens-before == total and would index one past the last
          // shard; it belongs in the last shard
          val shard = math.min(before * n / totalTokens, n - 1)
          before += nTok
          (shard, docId, nTok)
        }
      }.toDF("shard_id", "doc_id", "n_tokens")
      (sc.seal(sharded
        .groupBy("shard_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens"),
          sum("doc_id").as("sum_doc_id"))
        .orderBy("shard_id")), totalTokens)
    }
    // LOUD conservation gate (globalIds' discipline): every doc lands in
    // exactly one valid shard and the token mass is conserved — a cache
    // eviction between the offsets job and the assignment job would
    // silently misplace boundary docs otherwise.
    val rows = out.collect()
    val ok = rows.map(_.getLong(2)).sum == totalTokens &&
      rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < n)
    if (!ok) throw new IllegalStateException(
      "shardManifest lost its pinned partitioning between the offsets " +
        "job and the assignment job — token mass not conserved; rerun")
    out
  }

  // ---- leakage-free grouped split (X-GROUP-SPLIT) ----------------------

  /** Modulus of [[groupSplit]]'s per-user hash bucket. Must be coprime-safe
    * with the Fibonacci multiplier: a power-of-two modulus keeps every bit
    * of `user_id * 2654435761` live in the bucket (the multiplier is odd,
    * so ×2654435761 is a bijection mod 2^20), whereas a modulus of 10 made
    * the hash a no-op (2654435761 ≡ 1 mod 10 — the "split" was just the
    * id's last decimal digit).
    */
  val GroupSplitM = 1L << 20

  /** Train-side threshold: floor(0.8 · 2^20) — an 80/20 split over the
    * 2^20 hash buckets. */
  val GroupSplitTrainLt = (GroupSplitM * 4L) / 5L

  /** X-GROUP-SPLIT: train/test split by GROUP, not by row — every event
    * of a user lands in exactly one side (split on a multiplicative hash
    * of user_id into 2^20 buckets, 80/20), which is what stops entity leakage when rows of
    * the same user are near-duplicates of each other: a per-row split
    * (X-SPLIT's per-doc shape) would let the model see the test users'
    * history at train time. Reports per split the user, event, purchase,
    * and value mass so a training run can confirm the split didn't skew
    * the label distribution. Disjointness is by construction (one hash
    * per user decides every row) and the spec asserts it on materialized
    * user sets.
    *
    * Scale shape: narrow per-row hash + ONE partial-aggregated shuffle
    * onto (split); no window, no per-group state, no second pass.
    */
  def groupSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        when(pmod(col("user_id") * 2654435761L, lit(GroupSplitM)) < GroupSplitTrainLt,
            "train")
          .otherwise("test").as("split"),
        col("user_id"), col("event_type"),
        coalesce((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long"), lit(0L)).as("cents"))
      .groupBy("split")
      .agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum("cents").as("value_cents"))
      .orderBy("split")

  // ---- deterministic class rebalancing (X-REBALANCE) -------------------

  /** Hash-bucket modulus for [[rebalance]]'s keep rule: 2^20 buckets keep
    * the integer cross-multiplication `h · n_label < n_min · 2^20` inside
    * BIGINT even at trillion-row labels (h < 2^20, so the left side stays
    * under 2^63 until a single label exceeds ~8·10^12 rows).
    */
  val RebalanceM = 1L << 20

  /** X-REBALANCE: deterministic downsampling to the minority class — the
    * class-imbalance treatment a labeled corpus gets before training:
    * every label keeps a hash-proportional subset sized toward the
    * SMALLEST label's count (keep row iff h·n_label < n_min·M, the
    * integer cross-multiplied form of h/M < n_min/n_label), so the
    * surviving label distribution is near-uniform without an RNG, a
    * window, or a per-label sort. The keep decision is per-row against
    * broadcast label counts — no skewed rank-within-label shuffle, which
    * is what makes this shape survive a label with 10^12 rows. Output
    * per label: before/kept counts and an id checksum pinning the exact
    * surviving set.
    */
  def rebalance(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val counts = e.groupBy("label").agg(count(lit(1)).as("n_label"))
    val nMin = counts.agg(min("n_label").as("n_min"))
    val kept = e
      .join(broadcast(counts), Seq("label"))
      .join(broadcast(nMin))
      .filter(pmod(col("vec_id") * 2654435761L, lit(RebalanceM)) * col("n_label")
        < col("n_min") * RebalanceM)
    kept.groupBy("label").agg(
        count(lit(1)).as("n_kept"),
        sum("vec_id").as("kept_checksum"))
      .join(broadcast(counts), Seq("label"))
      .select(col("label"), col("n_label").as("n_before"), col("n_kept"),
        col("kept_checksum"))
      .orderBy("label")
  }

  // ---- priority sampling (X-PRIORITY-SAMPLE) ---------------------------

  /** Sample size for [[prioritySample]]. */
  val PrioritySampleN = 50

  /** Modulus of the deterministic per-doc uniform: h ∈ [1, 2^31−1]. */
  val PriorityM = 2147483647L

  /** X-PRIORITY-SAMPLE: priority sampling (Duffield/Lund/Thorup, JACM
    * 2007) — the one-pass bounded-memory WEIGHTED sample a 100 TB corpus
    * can actually afford: each doc gets priority p = w·M/h where w is its
    * weight (chars — a token-mass proxy) and h a deterministic 31-bit
    * multiplicative hash of doc_id standing in for the uniform draw
    * (mirrored exactly in the oracle — no RNG, rerunnable); the sample is
    * the top-[[PrioritySampleN]] by (p, doc_id) and each member carries
    * the Horvitz–Thompson adjusted weight ŵ = max(w, τ) with τ the
    * (n+1)-th priority — Σŵ is the canonical unbiased estimator of total
    * corpus weight from n rows of state. Priorities are ONE int-exact
    * multiply and ONE IEEE division, bit-identical across engines.
    *
    * Scale shape: a single corpus scan into a map-side partial top-(n+1)
    * (TakeOrdered carries n+1 rows per partition, never the corpus);
    * everything after runs on n+1 rows. This is the weighted companion
    * to X-SAMPLE's uniform split — the op that picks "10k docs, long
    * ones proportionally more often" without a shuffle or a second pass.
    */
  def prioritySample(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    val prio = Tables.documents(spark, sfDir).select(
        col("doc_id"), col("source"), col("n_chars").cast("long").as("w"),
        (pmod(col("doc_id") * 2654435761L, lit(PriorityM)) + 1L).as("h"))
      .select(col("doc_id"), col("source"), col("w"),
        (col("w").cast("double") * PriorityM / col("h").cast("double")).as("p"))
    // top n+1: the (n+1)-th priority IS the HT threshold τ — when the
    // corpus has ≤ n docs everything is sampled and τ = 0 (ŵ = w exactly)
    val top = sc.cut(prio.orderBy(col("p").desc, col("doc_id"))
      .limit(PrioritySampleN + 1))
    val tau =
      if (top.count() > PrioritySampleN)
        top.orderBy(col("p").asc, col("doc_id").desc).limit(1)
          .select(col("p").as("tau"))
      else top.limit(1).select(lit(0.0d).as("tau"))
    top.orderBy(col("p").desc, col("doc_id")).limit(PrioritySampleN)
      .join(broadcast(tau))
      .select(col("doc_id"), col("source"), col("w"),
        round(col("p"), 4).as("priority"),
        round(greatest(col("w").cast("double"), col("tau")), 4).as("w_est"))
      .orderBy("doc_id")
  }
}
