package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}
import graft.functions.RollingHash.rolling_hash

/** X-PIPELINE: the end-to-end corpus-curation pipeline as ONE query —
  * quality filter → exact dedup → near-dedup → per-source token budget,
  * with per-stage (docs, tokens) accounting. This is the composition the
  * whole X-* family exists for: a training-data run is not one operator
  * but this funnel, and the numbers that matter operationally are the
  * per-stage losses (how much did quality filtering cost, how much was
  * duplicated, what survived to the budget cut). Every stage reuses the
  * exact semantics of its standalone operator — the same quality
  * predicate (x_quality_filter), the same min-doc_id exact-dedup rule
  * and ≥-threshold near-dup drop (x_dedup_pipeline), the same
  * (fp, doc_id)-ordered running token budget (x_token_budget) — so the
  * oracle composes the same mirrored fragments.
  *
  * Scale shape: the corpus is scanned once into the cut feature
  * frame; each subsequent stage is a key-only join/window over the
  * shrinking survivor set (text-hash group, banded-pair semi/anti
  * joins, per-source ranking window); the five stage rollups are
  * metrics-sized aggregates off the cut frames.
  */
object Pipeline {

  /** The enriched corpus frame: one projection computes the quality
    * features ALONGSIDE the text column the dedup stages need
    * (qualityFeatures drops text; joining it back would scan documents
    * twice + shuffle) — same feature expressions as
    * TextAnalysis.qualityFeatures.
    */
  private[graft] def enrichedOf(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs.select(
      col("doc_id"), col("source"), col("text"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t.isin(TextAnalysis.Stopwords.map(lit): _*)))
        .cast("long").as("n_stopwords"),
      length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("n_punct"))
  }

  /** Stage-1 rule as a predicate over [[enrichedOf]] columns — exposed so
    * a caller can COUNT pass/fail in the same aggregate that counts
    * arrivals (streamingPipeline's per-batch ledger fuses the two counts
    * into one job).
    */
  private[graft] def qualityPred: org.apache.spark.sql.Column =
    col("n_tokens") >= 20 && col("n_tokens") <= 2000 &&
      col("n_stopwords").cast("double") <= col("n_tokens").cast("double") * 0.5 &&
      col("n_punct").cast("double") <= col("n_chars").cast("double") * 0.1

  /** Stage-1 rule: the x_quality_filter predicate. */
  private[graft] def qualityOf(enr: DataFrame): DataFrame =
    enr.filter(qualityPred)

  /** Stage-2 rule: exact-dedup keeper ids keyed on the (64-bit, 31-bit,
    * length) hash triple exactly like Dedup.exact — the Exchange under
    * this groupBy carries 24 bytes of hashes per doc, never the text
    * (grouping by the raw text column would shuffle the corpus).
    */
  private[graft] def exactKeepOf(s1: DataFrame): DataFrame =
    s1.select(col("doc_id"),
      rolling_hash(col("text")).as("eh64"),
      graft.functions.PolyHash.poly_hash(col("text"), 137).as("eh31"),
      col("n_chars"))
      .groupBy("eh64", "eh31", "n_chars").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Stage-3 rule: near-dup drop ids — the ≥-threshold banded pairs
    * (memoized table) restricted to survivors, dropping the larger id.
    */
  private[graft] def nearDropOf(
      spark: SparkSession, sfDir: String, s2ids: DataFrame): DataFrame =
    Dedup.minhashPairsTable(spark, sfDir)
      .filter(col("est_jaccard") >= Dedup.NearDupThreshold)
      .join(s2ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(s2ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      .select(col("id_b").as("doc_id")).distinct()

  private val memo = new graft.Memo("pipeline")

  /** The text-curation dedup survivor set — (doc_id, source) after
    * quality + exact dedup + near dedup, i.e. x_pipeline's stage-3
    * membership (the token-budget cut is a sampling stage, not dedup).
    * Memoized + cached: the funnel report and the cross-modal
    * provenance join (x_mm_text_join) read the same frame.
    */
  private[graft] def dedupSurvivors(spark: SparkSession, sfDir: String): DataFrame =
    memo.getOrBuild(spark, s"$sfDir#text_survivors", cache = true) {
      val s1 = qualityOf(enrichedOf(Tables.documents(spark, sfDir)))
      val s2 = s1.join(exactKeepOf(s1), Seq("doc_id"), "left_semi")
      s2.join(nearDropOf(spark, sfDir, s2.select("doc_id")), Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
    }

  def stageCounts(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.expressions.Window
    val enr = sc.cut(enrichedOf(Tables.documents(spark, sfDir)))
    val s1 = sc.cut(qualityOf(enr))
    val s2 = sc.cut(s1.join(exactKeepOf(s1), Seq("doc_id"), "left_semi"))
    val dropNear = nearDropOf(spark, sfDir, s2.select("doc_id"))
    val s3 = sc.cut(s2.join(dropNear, Seq("doc_id"), "left_anti"))
    val w = Window.partitionBy("source").orderBy("fp", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s4 = s3.withColumn("fp", rolling_hash(col("text")))
      .withColumn("running", sum("n_tokens").over(w))
      .filter(col("running") <= Sampling.TokenBudget)
    def stat(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"))
        .select(lit(label).as("stage"), col("n_docs"), col("n_tokens"))
    stat(enr, "0_raw")
      .unionAll(stat(s1, "1_quality"))
      .unionAll(stat(s2, "2_exact_dedup"))
      .unionAll(stat(s3, "3_near_dedup"))
      .unionAll(stat(s4, "4_token_budget"))
      .orderBy("stage")
  }

  /** X-DATASET-CARD: the per-source datasheet — the "datasheets for
    * datasets" summary table a corpus release ships (and the first page
    * every consumer reads): raw mass (docs/tokens/chars, mean doc
    * length), language composition (distinct languages, dominant
    * language + its share), and the curation health columns (quality-
    * filter passers, exact-dedup keepers, near-dup cluster members) —
    * each column the EXACT semantics of its standalone operator
    * (x_quality_filter predicate, x_dedup_exact keeper rule,
    * x_dedup_cluster membership), so the card reconciles with every
    * drill-down report instead of re-deriving its own truth.
    *
    * Scale shape: ONE corpus scan computes all row-local features; the
    * exact-keeper flag is a window over the 24-byte hash-triple key
    * (the Pipeline stage-2 exchange — text never shuffles), near-dup
    * membership joins from the memoized pair-graph-sized component
    * labels (broadcast), and the language argmax runs on (source, lang)
    * cells. Everything after the scan is source×lang-sized.
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("source"), col("lang"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t.isin(TextAnalysis.Stopwords.map(lit): _*)))
        .cast("long").as("n_stopwords"),
      length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("n_punct"),
      rolling_hash(col("text")).as("eh64"),
      graft.functions.PolyHash.poly_hash(col("text"), 137).as("eh31"))
    val members = Dedup.componentsTable(spark, sfDir)
      .select(col("id").as("doc_id"), lit(1L).as("near_member"))
    val flagged = base
      .withColumn("exact_keeper",
        when(min("doc_id").over(
          Window.partitionBy("eh64", "eh31", "n_chars")) === col("doc_id"), 1L)
          .otherwise(0L))
      .join(broadcast(members), Seq("doc_id"), "left")
      .withColumn("quality",
        when(col("n_tokens") >= 20 && col("n_tokens") <= 2000 &&
          col("n_stopwords").cast("double") <= col("n_tokens").cast("double") * 0.5 &&
          col("n_punct").cast("double") <= col("n_chars").cast("double") * 0.1, 1L)
          .otherwise(0L))
    val per = flagged.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      sum("n_chars").as("n_chars"),
      expr("sum(n_tokens) div count(1)").as("mean_tokens"),
      sum("quality").as("n_quality"),
      sum("exact_keeper").as("n_exact_kept"),
      sum(coalesce(col("near_member"), lit(0L))).as("n_neardup_members"))
    val langCells = base.groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val langStats = langCells
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("n").desc, col("lang"))))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_langs"),
        min(when(col("rn") === 1, col("lang"))).as("top_lang"),
        min(when(col("rn") === 1, col("n"))).as("top_lang_docs"))
    per.join(langStats, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("mean_tokens"), col("n_langs"), col("top_lang"), col("top_lang_docs"),
        col("n_quality"), col("n_exact_kept"), col("n_neardup_members"))
      .orderBy("source")
  }
}
