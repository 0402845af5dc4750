package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scope, Tables}
import graft.functions.RollingHash.rolling_hash

/** X-TEXT (SURVEY.md §2.7): text analysis operators for training-data
  * pipelines over the `documents` table — token counting, quality scoring,
  * language ID, document fingerprinting. All narrow per-row work (no
  * shuffle until the final aggregate), built-in expressions on the hot
  * path so whole-stage codegen holds.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped. Oracle-equivalent:
    * `list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')`.
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** BPE-ish lexer tokens: letter runs | digit runs | single punctuation.
    * The pattern is RE2/Java-compatible so the oracle reproduces it.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpePattern), lit(0))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  /** Per-document quality features (length / punctuation / stopword
    * ratios). Ratios are exact-integer divisions done identically in the
    * oracle, so values hash-match.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t.isin(Stopwords.map(lit): _*))).cast("long").as("n_stopwords"),
      length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("n_punct"))
  }

  /** X-TEXT quality scoring aggregated per language: exact integer sums +
    * one double division at the end (identical IEEE ops in the oracle).
    */
  def qualityByLang(spark: SparkSession, sfDir: String): DataFrame =
    qualityFeatures(Tables.documents(spark, sfDir))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars"),
        sum("n_tokens").as("tokens"),
        sum("n_stopwords").as("stopwords"),
        sum("n_punct").as("punct"))
      .select(
        col("lang"), col("n_docs"), col("chars"), col("tokens"),
        (col("stopwords").cast("double") / col("tokens").cast("double")).as("stopword_ratio"),
        (col("punct").cast("double") / col("chars").cast("double")).as("punct_ratio"))
      .orderBy("lang")

  /** X-TEXT quality filter: the keep/drop gate a training-data pipeline
    * applies per document. Thresholds on token count, stopword ratio,
    * punctuation ratio — all exact-integer comparisons or identical
    * double ratios, so the oracle reproduces the exact survivor set.
    */
  /** Stopword-density per-mille cutoffs swept by [[prCurve]] — the
    * fixture's density mass sits in 0..~250‰, so nine steps of 25 cover
    * the whole operating range of the score.
    */
  val PrThresholds: Seq[Long] = (1 to 9).map(_ * 25L)

  /** X-PR-CURVE: the threshold sweep a filter rollout actually reads —
    * precision/recall/F1 of a cheap scalar score (stopword density in
    * per-mille, the classic fluency proxy) at each candidate cutoff,
    * graded against the richer [[qualityFilter]] keep rule as reference
    * truth. This is how a curation run picks the cutoff for a
    * model-assisted filter: sweep the score, read the curve, choose the
    * knee. All confusion counts are exact integers and the three ratios
    * are integer ppm (one `div` each), so both engines agree exactly;
    * zero-token docs score 0 by definition (predicted drop at every
    * cutoff).
    *
    * Scale shape: the corpus is touched by ONE partial+final aggregation
    * onto the (score, label) histogram — ≤ 2·1001 cells regardless of
    * corpus size — and the T-way threshold sweep runs on that histogram,
    * never on documents. Adding thresholds is free; adding data costs
    * one scan.
    */
  def prCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val f = qualityFeatures(Tables.documents(spark, sfDir))
      .select(
        coalesce(expr("n_stopwords * CAST(1000 AS BIGINT) div nullif(n_tokens, 0)"),
          lit(0L)).as("score"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 2000 &&
          col("n_stopwords").cast("double") <= col("n_tokens").cast("double") * 0.5 &&
          col("n_punct").cast("double") <= col("n_chars").cast("double") * 0.1)
          .as("label"))
    val hist = f.groupBy("score", "label").agg(count(lit(1)).as("n"))
    // the T-way sweep is a map-side explode of a constant literal over
    // the histogram — no join node, nothing for a planner to mis-size
    val sweep = hist
      .select(col("*"), explode(typedlit(PrThresholds)).as("thr"))
      .groupBy("thr").agg(
        sum(when(col("score") >= col("thr") && col("label"), col("n"))
          .otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("thr") && !col("label"), col("n"))
          .otherwise(0L)).as("fp"),
        sum(when(col("score") < col("thr") && col("label"), col("n"))
          .otherwise(0L)).as("fn"),
        sum(when(col("score") < col("thr") && !col("label"), col("n"))
          .otherwise(0L)).as("tn"))
    sweep
      .withColumn("precision_ppm",
        coalesce(expr("tp * CAST(1000000 AS BIGINT) div nullif(tp + fp, 0)"), lit(0L)))
      .withColumn("recall_ppm",
        coalesce(expr("tp * CAST(1000000 AS BIGINT) div nullif(tp + fn, 0)"), lit(0L)))
      .withColumn("f1_ppm",
        coalesce(
          expr("2 * precision_ppm * recall_ppm div nullif(precision_ppm + recall_ppm, 0)"),
          lit(0L)))
      .orderBy("thr")
  }

  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    qualityFeatures(Tables.documents(spark, sfDir))
      .withColumn("keep",
        col("n_tokens") >= 20 && col("n_tokens") <= 2000 &&
          col("n_stopwords").cast("double") <= col("n_tokens").cast("double") * 0.5 &&
          col("n_punct").cast("double") <= col("n_chars").cast("double") * 0.1)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy("lang")

  /** X-TEXT token counting per source with the BPE-ish lexer. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        size(bpeTokens(col("text"))).cast("long").as("n_bpe"),
        size(tokens(col("text"))).cast("long").as("n_ws"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bpe").as("bpe_tokens"),
        sum("n_ws").as("ws_tokens"),
        max("n_bpe").as("max_bpe"))
      .orderBy("source")

  /** Curriculum stage count — quartiles, the common warm-up/anneal
    * granularity.
    */
  val CurriculumStages = 4

  /** X-CURRICULUM: per-source curriculum staging — training pipelines
    * commonly order data from cleanest to noisiest (quality curriculum:
    * warm up on clean prose, anneal on the tail), and the PLAN for that
    * is a stage table with token budgets, not a 100-TB global sort. The
    * per-doc score is integer-exact prose quality in ppm (stopword
    * density minus punctuation density — the [[qualityFilter]] features
    * re-used as a scalar); stages are equal-count quartiles of the
    * (score DESC, doc_id) total order WITHIN each source — a
    * per-source window, so the sort is partitioned (the global
    * curriculum is then source-interleaved downstream, X-INTERLEAVE's
    * job), never a corpus-wide unpartitioned window. Output per (source,
    * stage): doc count, token budget, the score range, and a membership
    * checksum pinning the exact assignment.
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = qualityFeatures(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (coalesce(expr("n_stopwords * 1000000 div nullif(n_tokens, 0)"),
          lit(-1000000L))
          - coalesce(expr("n_punct * 1000000 div nullif(n_chars, 0)"), lit(0L)))
          .as("score_ppm"))
    val staged = f.withColumn("stage",
      ntile(CurriculumStages).over(
        Window.partitionBy("source")
          .orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
    staged.groupBy("source", "stage")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        max("score_ppm").as("best_ppm"),
        min("score_ppm").as("worst_ppm"),
        sum("doc_id").as("sum_ids"))
      .orderBy("source", "stage")
  }

  /** Language-ID heuristic: score each candidate language by stopword-set
    * hits over whitespace tokens; argmax with a fixed preference order on
    * ties, `und` when nothing matches. Deterministic; verified by
    * ScalaTest (rows-only oracle — the heuristic itself is the spec).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "和", "在"))

  /** Argmax over a *materialized* scores array. Catalyst has no CSE inside
    * expression trees built like this, so token extraction and scoring are
    * staged as separate projections (each computed once per row) instead
    * of being inlined into every branch of the argmax — 15× cheaper.
    */
  def predictedFromScores(scores: Column): Column = {
    val best = array_max(scores)
    LangProfiles.map(_._1).zipWithIndex.foldRight(lit("und")) {
      case ((lang, i), acc) =>
        when(element_at(scores, i + 1) === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  def langId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), tokens(lower(col("text"))).as("toks"))
      .select(col("lang"), array(LangProfiles.map { case (_, words) =>
        size(filter(col("toks"), t => t.isin(words.map(lit): _*)))
      }: _*).as("scores"))
      .select(col("lang"), predictedFromScores(col("scores")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** X-EVAL-METRICS: classifier evaluation — per-class precision,
    * recall, and F1 derived from the [[langId]] confusion matrix
    * against the fixture's ground-truth `lang` column (the eval report
    * every model-assisted curation step ships next to its predictions;
    * a filter whose precision nobody measured is how a corpus silently
    * loses a language). Classes are the ACTUAL labels; a prediction
    * bucket with no true member ('und') contributes to `n_predicted`
    * denominators via the confusion matrix but gets no row. Corpus-
    * sized work is the one prediction+count pass the confusion matrix
    * already does; everything here is classes²-sized. Zero-denominator
    * guards are exact INTEGER comparisons (n_predicted = 0, tp = 0), so
    * the one-division metrics are bit-deterministic in both engines.
    */
  def evalMetrics(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    // cut: the confusion matrix (classes²-sized) feeds THREE subtrees
    // below (actual, predicted, tp) — uncut, each re-ran the whole
    // corpus prediction pass, three scans for a ≤36-row frame
    val conf = sc.cut(langId(spark, sfDir))
    val actual = conf.groupBy("lang").agg(sum("n").as("n_actual"))
    val predicted = conf.groupBy("predicted")
      .agg(sum("n").as("n_predicted"))
      .withColumnRenamed("predicted", "lang")
    val tp = conf.filter(col("lang") === col("predicted"))
      .select(col("lang"), col("n").as("tp"))
    val j = actual
      .join(predicted, Seq("lang"), "left")
      .join(tp, Seq("lang"), "left")
      .select(col("lang"), col("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val prec = col("tp").cast("double") / col("n_predicted").cast("double")
    val rec = col("tp").cast("double") / col("n_actual").cast("double")
    j.select(col("lang"), col("n_actual"), col("n_predicted"), col("tp"),
      when(col("n_predicted") === 0L, lit(0.0)).otherwise(prec).as("prec"),
      rec.as("rec"),
      when(col("tp") === 0L, lit(0.0))
        .otherwise(lit(2.0) * prec * rec / (prec + rec)).as("f1"))
      .orderBy("lang")
  }

  /** X-TEXT vocabulary extraction: corpus-wide token frequencies, top 50
    * — explode → hash agg → TakeOrdered. At 100 TB the explode fans out
    * per-token rows but the partial agg collapses them map-side before
    * the shuffle (one row per distinct token per partition).
    */
  /** X-TFIDF: per-source salient terms — term frequency weighted by a
    * BM25-style rational idf `(N - df + 0.5) / (df + 0.5)` instead of
    * `ln(N/df)`. The rational form is deliberate: +,-,*,/ are IEEE
    * correctly-rounded and therefore bit-identical across engines, while
    * `ln` is libm-dependent — so the score itself hash-matches the oracle
    * with no rounding escape hatch. Shape: one explode + two key-only
    * aggregates (tf on (source, token), df folded from tf) + a broadcast
    * of the tiny df table back onto tf, then a per-source top-15 window.
    * At 100 TB the tf aggregate is the only heavy shuffle and it carries
    * (source, token, count) — never document text.
    */
  val TfIdfTopK = 15

  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // number of distinct sources rides along as a broadcast one-row
    // cross join inside the one query — a column-pruned source-only scan,
    // not a standalone driver action over the corpus text (and counted
    // over ALL documents, matching the oracle, not just tokenized ones)
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val ns = docs.select("source").distinct()
      .agg(count(lit(1)).cast("double").as("n_sources"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(desc("score"), asc("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(ns))
      .withColumn("score",
        col("tf") * ((col("n_sources") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfIdfTopK)
      .select("source", "rank", "token", "tf", "df", "score")
      .orderBy("source", "rank")
  }

  // ---- X-BM25 ---------------------------------------------------------

  private val bmCache = new graft.Memo("text.bm25")

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25QueryTerms = 5
  val Bm25TopK = 20

  /** X-BM25: full-text relevance ranking — the retrieval scorer behind
    * corpus search and data-curation "find documents like this" passes.
    * The query is self-derived and deterministic: the [[Bm25QueryTerms]]
    * globally most frequent tokens (ties → token asc). Scoring uses the
    * standard BM25 form with the all-rational idf `(N − df + 0.5) /
    * (df + 0.5)` (no libm `ln`, same reasoning as [[tfidf]]) and length
    * normalization `tf·(k1+1) / (tf + k1·(1 − b + b·dlen/avgdl))`.
    *
    * Determinism: every constant is interpolated from the same Scala
    * double into the oracle SQL (Scala's `toString` round-trips, DuckDB
    * parses to the identical bits); avgdl is an exact integer sum + ONE
    * division; the per-document sum over matched query terms folds in
    * token order on both engines (sorted collect vs `list(s ORDER BY
    * token)`); and the checked score is rounded to 6 dp — the raw chain
    * is ~15 IEEE ops and engines can differ in the final bit (the same
    * display-rounding contract the cosine family uses).
    *
    * Scale shape: the corpus is TOKENIZED ONCE — the (doc, token, tf)
    * table is memoized + cached and every other input (doc lengths,
    * document frequencies, corpus stats, the query itself) derives from
    * it with tiny count-only aggregates; tf is the only heavy shuffle
    * and it carries counts, never text. The query-term and corpus-stats
    * tables are one-row/5-row broadcasts; the final top-[[Bm25TopK]] is
    * TakeOrderedAndProject (per-partition heads + driver merge of 20),
    * never a global sort.
    */
  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // one tokenize pass feeds FOUR consumers (dlen, df, stats, query)
    val tf = bmCache.getOrBuild(spark, s"$sfDir#tf", cache = true) {
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    }
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
    // ONE vocabulary-keyed aggregate feeds df, the query terms AND the
    // corpus token total (they were three separate full-tf aggregates —
    // same key, one exchange; guide §2.4): df = docs per token,
    // gtf = total term frequency per token
    val tok = tf.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("gtf"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      .crossJoin(tok.agg(sum("gtf").cast("double").as("n_tokens")))
      .select(col("n_docs"), (col("n_tokens") / col("n_docs")).as("avgdl"))
    // the query terms WITH their df in one ≤ Bm25QueryTerms-row frame
    // (TakeOrdered on the vocabulary-sized agg, never driver-collected),
    // so scoring needs ONE broadcast join instead of query + dfq
    val dfq = tok.orderBy(desc("gtf"), asc("token")).limit(Bm25QueryTerms)
      .select("token", "df")
    val scored = tf.join(broadcast(dfq), "token")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dlen"), col("token"),
        (((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(Bm25K1 + 1)) /
            (col("tf") + lit(Bm25K1) *
              (lit(1.0 - Bm25B) + lit(Bm25B) * (col("dlen") / col("avgdl"))))))
          .as("s"))
    scored.groupBy("doc_id", "dlen")
      .agg(
        count(lit(1)).as("n_terms"),
        aggregate(
          transform(array_sort(collect_list(struct(col("token"), col("s")))), x => x("s")),
          lit(0.0), _ + _).as("raw"))
      // 6-dp rounding BEFORE the top-k cut, same contract as the cosine
      // family: the raw score is a ~15-op double chain and engines may
      // differ in the last bit — ranking on the rounded value (doc_id
      // tie-break) keeps the top-20 MEMBERSHIP engine-identical too
      .select(col("doc_id"), col("dlen"), col("n_terms"),
        round(col("raw"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(Bm25TopK)
  }

  // ---- late-interaction retrieval (X-MAXSIM) ---------------------------

  /** Query-token budget, served-list size, and sign-embedding width for
    * [[maxsim]].
    */
  val MaxSimQTokens = 8
  val MaxSimTopK = 20
  val MaxSimBits = 16

  /** X-MAXSIM: late-interaction retrieval — the ColBERT MaxSim scoring
    * shape, the third retrieval geometry next to the lexical ranker
    * (X-BM25: one score per matched TERM) and the dense ranker
    * (X-HYBRID-RRF's single-vector dot): every query TOKEN finds its
    * best-matching document token and the score is the sum of those
    * per-token maxima — soft token alignment, which rewards documents
    * that cover ALL query aspects instead of repeating one. Token
    * embeddings are deterministic 16-bit SIGN vectors derived from ONE
    * poly-hash per distinct token (bit i of h(t) is dimension i), so
    * token similarity is the exact integer bit kernel `16 − 2·
    * popcount((h_a xor h_b) & 0xFFFF)` — the Hamming form of a sign-
    * vector dot product, one xor + one popcount per pair, no float
    * anywhere. The query is "more like doc 0": its [[MaxSimQTokens]]
    * lexicographically-smallest distinct tokens (pinned, engine-
    * identical). `n_exact` counts query tokens whose best match is a
    * full 16-bit agreement — the hard-match core the soft tail adds to.
    *
    * Scale shape: the corpus tokenizes ONCE into distinct (doc, token)
    * rows, each hashed narrowly; scoring joins the 8-row broadcast
    * query against those rows map-side (8·|doc tokens| integer kernels
    * per doc, zero shuffle), then two partial+final aggs fold max-per-
    * (doc, qtoken) and sum-per-doc; the served list is a
    * TakeOrdered head. At 100 TB the scoring pass composes behind a
    * candidate shortlist (the X-BM25/X-HYBRID-RRF rankers) exactly like
    * production ColBERT re-ranks a first-stage retrieval.
    */
  def maxsim(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    // cut: the hashed distinct (doc, token) table feeds THREE subtrees
    // (query frame, scoring join, per-doc sizes) — uncut, each re-ran
    // the corpus tokenize + distinct (at scale this is the persisted
    // token-embedding side table, built once)
    val dh = sc.cut(Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .distinct()
      .withColumn("h", graft.functions.PolyHash.poly_hash(col("tok"), 131)))
    val qt = dh.filter(col("doc_id") === 0L)
      .select(col("tok").as("qtok"), col("h").as("hq"))
      .orderBy("qtok").limit(MaxSimQTokens)
    val best = dh.filter(col("doc_id") =!= 0L)
      .crossJoin(broadcast(qt))
      .select(col("doc_id"), col("qtok"),
        expr(s"$MaxSimBits - 2 * bit_count((h ^ hq) & 65535)").as("sim"))
      .groupBy("doc_id", "qtok").agg(max("sim").as("best"))
    val perDoc = best.groupBy("doc_id")
      .agg(sum("best").as("score"),
        sum(when(col("best") === MaxSimBits, 1L).otherwise(0L)).as("n_exact"))
    val sizes = dh.filter(col("doc_id") =!= 0L)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dtokens"))
    perDoc.join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_dtokens"), col("n_exact"), col("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(MaxSimTopK)
  }

  // ---- hybrid lexical + dense retrieval (X-HYBRID-RRF) -----------------

  /** X-HYBRID-RRF: the production hybrid-search call — a LEXICAL ranking
    * (the [[bm25]] top-[[Bm25TopK]], scores in relevance units) fused
    * with a DENSE ranking (hashing-trick document vectors, scores in
    * dot-product units) by reciprocal-rank fusion, the rank-only
    * combination that works precisely because the two scorers'
    * magnitudes are incomparable (Cormack/Clarke/Buettcher, SIGIR 2009 —
    * the same integer-ppm fold as x_sim_rrf).
    *
    * The dense ranker is fully deterministic and vocabulary-free: each
    * document's bigram set feature-hashes into [[HashFeatDims]] signed
    * buckets (x_hash_features' double-hashing kernel, per DOCUMENT here
    * rather than per source), the query vector is the elementwise SIGN
    * of the corpus sum (the corpus SimHash direction — "rank documents
    * along the corpus's dominant direction", the dense analogue of
    * bm25's self-derived top-tokens query), and each document scores
    * the exact INTEGER dot product of its signed-sum vector with that
    * ±1/0 query — no float anywhere in the dense chain.
    *
    * Output: the fused top-[[Bm25TopK]] with per-ranker ranks kept as
    * nullable columns and `n_rankers` saying found-by-both vs
    * rescued-by-one — the hybrid-search health readout.
    *
    * Scale shape: all corpus-sized work lives inside the two rankers,
    * each keeping its own proven shape (bm25: one memoized tokenize +
    * count-only shuffles + TakeOrderedAndProject; dense: one bigram
    * explode into a (doc, bucket)-keyed partial+final agg, a
    * [[HashFeatDims]]-row broadcast query vector, a doc-keyed dot agg,
    * TakeOrderedAndProject). The fusion itself is rank-bounded: a
    * full-outer join of two ≤K-row lists and a ≤2K-row re-rank window —
    * corpus size never touches it.
    */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = Bm25TopK
    // single-partition windows are safe here: both frames are already
    // cut to ≤ K rows by TakeOrderedAndProject before the rank window
    val wLex = Window.orderBy(desc("score"), asc("doc_id"))
    val lex = bm25(spark, sfDir)
      .select(col("doc_id"), col("score"))
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    // the dense ranker's document-vector table is memoized + cached (the
    // bm25 tf-table convention: ONE bigram-hash pass per session — at
    // scale this is the persisted doc-embedding artifact the dense side
    // serves from, rebuilt only on reindex, never once per query)
    val docVecs = bmCache.getOrBuild(spark, s"$sfDir#docvecs", cache = true) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .as("g"))
        .select(col("doc_id"),
          pmod(graft.functions.PolyHash.poly_hash(col("g"), 131),
            lit(HashFeatDims.toLong)).as("bucket"),
          (pmod(graft.functions.PolyHash.poly_hash(col("g"), 137), lit(2L)) * 2L - 1L)
            .as("sign"))
        .groupBy("doc_id", "bucket").agg(sum("sign").as("v"))
    }
    // the dense query: sign of the corpus sum per bucket — a
    // HashFeatDims-row frame, broadcast into the scoring join. Memoized
    // like docVecs (it is a pure function of that artifact, re-derived
    // only on reindex — not once per query)
    val qv = bmCache.getOrBuild(spark, s"$sfDir#qvec", cache = true) {
      docVecs.groupBy("bucket")
        .agg(sum("v").as("s"))
        .select(col("bucket"),
          when(col("s") > 0, 1L).when(col("s") < 0, -1L).otherwise(0L).as("qs"))
    }
    val wDen = Window.orderBy(desc("dense_dot"), asc("doc_id"))
    val den = docVecs.join(broadcast(qv), "bucket")
      .groupBy("doc_id").agg(sum(col("v") * col("qs")).as("dense_dot"))
      .orderBy(desc("dense_dot"), asc("doc_id")).limit(k)
      .withColumn("dense_rank", row_number().over(wDen).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
    val c0 = Similarity.RrfC
    val fused = lex.join(den, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr(s"CAST(1000000 AS BIGINT) div ($c0 + lex_rank)"), lit(0L))
          + coalesce(expr(s"CAST(1000000 AS BIGINT) div ($c0 + dense_rank)"), lit(0L)))
          .as("rrf_ppm"),
        (col("lex_rank").isNotNull.cast("long")
          + col("dense_rank").isNotNull.cast("long")).as("n_rankers"),
        col("lex_rank"), col("dense_rank"))
    fused
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("rrf_ppm"), asc("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("rank", "doc_id", "rrf_ppm", "n_rankers", "lex_rank", "dense_rank")
      .orderBy("rank")
  }

  // ---- X-CHUNK --------------------------------------------------------

  val ChunkSize = 32
  val ChunkOverlap = 8
  val ChunkStride: Int = ChunkSize - ChunkOverlap

  /** X-BOILERPLATE: template-shingle detection per source — the
    * boilerplate pass web-corpus pipelines (CCNet / RefinedWeb style)
    * run to find navigation chrome, legal footers, and template text:
    * a bigram shingle appearing in ≥ 20% of a SOURCE's documents is
    * template, not content. Per-doc DISTINCT bigrams (presence, not
    * frequency — a doc repeating its own header still counts once), one
    * (source, gram) doc-frequency agg — the only heavy shuffle, carrying
    * shingle keys — then a per-source rollup against the tiny broadcast
    * doc-count dim. The 20% threshold is integer arithmetic
    * (`df·5 ≥ n_docs`): no float compare to drift between engines. At
    * 100 TB the df table is exactly a heavy-hitters problem — the
    * SpaceSaving/CMS sketches (X-HEAVY-HITTERS, X-CMS) replace the exact
    * agg with bounded memory; this operator states the exact contract
    * those sketches approximate.
    */
  def boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), tokens(col("text")).as("toks"))
    val grams = toks.filter(size(col("toks")) >= 2)
      .select(col("source"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => concat(element_at(col("toks"), (i + 1).cast("int")), lit(" "),
            element_at(col("toks"), (i + 2).cast("int")))))).as("gram"))
    val df = grams.groupBy("source", "gram").agg(count(lit(1)).as("df"))
    val nd = toks.groupBy("source").agg(count(lit(1)).as("n_docs"))
    df.join(broadcast(nd), Seq("source"))
      .groupBy("source")
      .agg(
        max("n_docs").as("n_docs"),
        count(lit(1)).as("n_grams"),
        sum(when(col("df") * 5 >= col("n_docs"), lit(1L)).otherwise(lit(0L)))
          .as("n_template"),
        sum(when(col("df") * 5 >= col("n_docs"), col("df")).otherwise(lit(0L)))
          .as("template_df_sum"),
        max("df").as("max_df"))
      .orderBy("source")
  }

  /** X-CHUNK: overlapping fixed-size token windows — the chunker every
    * retrieval / context-window pipeline runs before embedding (vs
    * X-PACK, which concatenates-then-cuts for training sequences; a
    * chunker must stay within one document and overlap for boundary
    * recall). Pure row-local work: tokenize once, explode the stride
    * grid (`sequence(0, len-1, stride)`), slice each window — no shuffle
    * at all until the display sort, and at scale none (chunks stream to
    * the sink partition-local). Every output is integer/string-exact:
    * window token/char counts plus first/last token pin each boundary.
    */
  def chunk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("len"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("len") - 1, lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        (col("start") / lit(ChunkStride)).cast("long").as("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(ChunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        length(concat_ws(" ", col("chunk"))).cast("long").as("n_chars"),
        element_at(col("chunk"), 1).as("first_token"),
        element_at(col("chunk"), -1).as("last_token"))
    // corpus-scaled outputs end map-side (gates sort rows themselves)

  // ---- X-GINI ---------------------------------------------------------

  /** X-GINI: per-source token-distribution concentration — Gini impurity
    * `1 - Σ(c_i/n)² = (n² - Σc_i²)/n²` plus the top-token share. The
    * lexical-diversity / mode-collapse signal a corpus monitor tracks
    * (a source whose impurity drops is converging on boilerplate), and
    * the libm-free complement of entropy: every sum is exact (the
    * squares accumulate in DECIMAL(38,0) so the arithmetic survives
    * per-token counts far past 2^31), and the only floating point is the
    * final deterministic IEEE divisions. Scale shape: one explode + two
    * partial+final aggs, shuffling (source, word, count) then one row
    * per source.
    */
  def gini(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    counts
      .groupBy("source")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        max("c").as("max_c"),
        sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("sumsq"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        (col("max_c").cast("double") / col("n_tokens").cast("double")).as("top_share"),
        ((col("n_tokens").cast(DecimalType(38, 0)) * col("n_tokens") - col("sumsq"))
          .cast("double") /
          (col("n_tokens").cast(DecimalType(38, 0)) * col("n_tokens")).cast("double"))
          .as("gini"))
      .orderBy("source")
  }

  // ---- X-BPE ----------------------------------------------------------

  /** Merge steps to induce for [[bpeMerges]]. */
  val BpeMergeCount = 4

  /** Replace-to-fixpoint depth for one merge application: a plain
    * non-overlapping left-to-right `replace` misses occurrences that
    * share a boundary space with a just-replaced one (" a a a a " →
    * " aa a a "), and each further application halves the stragglers, so
    * 6 rounds closes any ≤64-symbol word. Both engines implement
    * `replace` with identical resume-after-replacement semantics, which
    * is what makes the merged corpus bit-identical.
    */
  val BpeReplaceDepth = 6

  /** X-BPE: byte-pair-encoding tokenizer induction — the classic
    * iterative merge loop (Sennrich et al.) over the corpus word-type
    * table: count adjacent symbol pairs weighted by word frequency, pick
    * the most frequent (ties: lexicographic — bit-deterministic), fuse
    * it everywhere, repeat. Words are represented as space-joined symbol
    * sequences so a merge IS a plain-string replace of " l r " with
    * " lr " (symbols never contain spaces), applied to fixpoint — the
    * same procedure, literally the same string ops, on both engines.
    *
    * Scale shape: the corpus-sized work is ONE explode + word-count agg;
    * every merge round then runs over the WORD-TYPE table (vocab-bounded,
    * not corpus-bounded — the reason real BPE trainers tokenize word
    * types), shuffling (l, r, count) pairs only. The per-round argmax is
    * a 1-row driver decision — inherent to the algorithm (each round's
    * merge depends on the last) and metadata-sized by license. The
    * word-type frame is cached once; rounds stack narrow replace
    * expressions on it.
    */
  private val bpeCache = new graft.Memo("text.bpe")

  /** The trained state: the merge table plus the word-type → fused
    * symbol-sequence map (vocab-sized; eagerly checkpointed so the
    * stacked replace expressions never recompute downstream). Memoized
    * per (session, sfDir) — [[bpeMerges]] and [[bpeApply]] share one
    * training run, the way a tokenizer is trained once and applied many
    * times.
    */
  private def bpeTrain(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    lazy val trained = bpeTrainOnce(spark, sfDir)
    (bpeCache.getOrBuild(spark, s"$sfDir#merges")(trained._1),
      bpeCache.getOrBuild(spark, s"$sfDir#words", cache = true)(trained._2))
  }

  private def bpeTrainOnce(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val fin = Scope.run { sc =>
      val words = sc.keep(Tables.documents(spark, sfDir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .select(col("w"),
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seq"), col("c")))
      words.count()
      var cur: DataFrame = words
      var k = 1
      var exhausted = false
      while (k <= BpeMergeCount && !exhausted) {
        val top = cur
          .select(col("c"), split(trim(col("seq")), " ").as("ts"))
          // single-symbol words have no pairs — and Spark's sequence(0, -1)
          // DESCENDS, so without the guard ts[1] faults under ANSI
          .filter(size(col("ts")) >= 2)
          .select(col("c"), explode(expr(
            "transform(sequence(0, size(ts)-2), i -> struct(ts[i] AS l, ts[i+1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("c").as("pc"))
          .orderBy(col("pc").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((k.toLong, l, r, pc))
          val pat = s" $l $r "
          val rep = s" $l$r "
          val fused = (1 to BpeReplaceDepth).foldLeft(col("seq")) {
            case (acc, _) => org.apache.spark.sql.functions.replace(acc, lit(pat), lit(rep))
          }
          cur = cur.select(col("w"), fused.as("seq"), col("c"))
          k += 1
        }
      }
      sc.seal(cur)
    }
    (merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count"), fin)
  }

  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrain(spark, sfDir)._1.orderBy("merge_rank")

  /** X-BPE-APPLY: apply the trained merges back to the corpus — the
    * tokenizer-fertility profile (symbols per word, chars per symbol)
    * per source that decides whether a tokenizer is good enough to ship.
    * The word-type → symbol-count map is vocab-sized (broadcasts at
    * 100 TB); the corpus-sized work is one explode + equi-join on the
    * word + partial+final rollup. Fertility is ONE division of two exact
    * BIGINTs.
    */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val map = bpeTrain(spark, sfDir)._2
      .select(col("w"), size(split(trim(col("seq")), " ")).cast("long").as("syms"))
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(map), "w")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum("syms").as("n_symbols"))
      .select(col("source"), col("n_tokens"), col("n_chars"), col("n_symbols"),
        (col("n_symbols").cast("double") / col("n_tokens").cast("double")).as("fertility"))
      .orderBy("source")
  }

  // ---- X-NOVELTY ------------------------------------------------------

  /** X-NOVELTY: per-source novel-bigram contribution — for each document
    * (in stable doc_id corpus order) the fraction of its DISTINCT word
    * bigrams whose corpus-wide first occurrence is that document. The
    * data-curation "does this doc add anything new" signal: boilerplate
    * and template glue score near 0, genuinely fresh text near 1; per
    * source it measures marginal contribution to corpus diversity
    * (the selection criterion dedup-aware mixing uses beyond X-DIVERSITY's
    * char-level view). Counts are exact integers; the rate is ONE
    * division of two exact BIGINTs per source.
    *
    * Scale shape: distinct bigrams explode once; first-occurrence is a
    * (bigram → min doc_id) partial+final agg; the join back is equi-keyed
    * on the bigram and reuses the aggregate's hash partitioning (no
    * second exchange of the exploded side); the rollup shuffles one row
    * per source. Nothing is ever all-pairs and no window spans the
    * corpus.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bi = docs
      .select(col("source"), col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))")))
          .as("bg"))
    val first = bi.groupBy("bg").agg(min("doc_id").as("first_doc"))
    val flagged = bi.join(first, Seq("bg"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(flagged, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          coalesce(col("n_bigrams"), lit(1L)).cast("double")).as("novelty_rate"))
      .orderBy("source")
  }

  // ---- X-NGRAM-LM -----------------------------------------------------

  /** Every `LmSampleStride`-th doc gets a checked score (the model is
    * still built from the WHOLE corpus).
    */
  val LmSampleStride = 25

  /** X-NGRAM-LM: bigram language-model quality scoring — the statistical
    * fluency filter (the perplexity idea) corpus curation runs to drop
    * gibberish. A bigram model is estimated from the whole corpus —
    * C(w1,w2) and its left-marginal C(w1·) — and each document is scored
    * by the MEAN conditional probability of its own bigrams,
    * `mean_i P(w2|w1) = mean_i C(w1,w2)/C(w1·)`. The rational mean
    * replaces log-perplexity deliberately: no libm `ln`, every addend is
    * ONE integer-ratio division, and the per-doc sum folds in POSITION
    * order on both engines (the bm25 ordered-fold pattern), checked at
    * 6 dp.
    *
    * Scale shape: the bigram count table is the only heavy shuffle and
    * carries (w1, w2, count) — vocab-squared bounded, never documents;
    * scoring joins the (sampled) doc bigrams against it by equi-key. The
    * sample stride keeps the checked output small while the model stays
    * corpus-wide.
    */
  def ngramLm(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = toks.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
          .as(Seq("i", "bg")))
      .select(col("doc_id"), col("i"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // cut: the bigram model is read by BOTH the marginal fold (c1)
    // and the scoring join — uncut, the full-corpus tokenize+explode
    // under it ran once per consumer (three times in one plan, since c1
    // nests c2)
    val c2 = sc.cut(bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val c1 = c2.groupBy("w1").agg(sum("c12").as("c1"))
    bi.filter(col("doc_id") % LmSampleStride === 0)
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"), col("i"),
        (col("c12").cast("double") / col("c1").cast("double")).as("p"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("i"), col("p")))), x => x("p")),
          lit(0.0), _ + _).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s") / col("n_bigrams"), 6).as("score"))
  }

  /** X-DIVERSITY: character collision probability per sampled document —
    * the repetitiveness/gibberish signal (low diversity ⇒ repeated-char
    * spam, high ⇒ noise) that complements [[ngramLm]]'s fluency score.
    * The unbiased collision probability `Σ c·(c−1) / (n·(n−1))` stays in
    * INTEGER arithmetic until ONE final division, so the score is
    * bit-identical in the oracle with no rounding escape hatch. Shuffle
    * carries (doc, char, count) — bounded by alphabet size per doc; the
    * sample stride bounds the output, and at scale the explode is
    * row-local map work.
    */
  def charDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % LmSampleStride === 0 && length(col("text")) >= 2)
      // empty-string split semantics are Spark-version-dependent (pre-3.4 a
      // trailing empty token — SPARK-40194) and per UTF-16 code UNIT, where
      // DuckDB's string_split('') is per code POINT; the empty filter makes
      // the n_chars == length(text) invariant version-robust, and the
      // fixture is ASCII so unit==point holds (non-BMP text would need a
      // code-point-safe split on both sides).
      .select(col("doc_id"), explode(filter(split(col("text"), ""), _ =!= "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * (col("c") - 1)).as("coll_num"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        (col("coll_num").cast("double")
          / (col("n_chars") * (col("n_chars") - 1)).cast("double")).as("collision"))

  /** RE2/Java-compatible PII patterns (kept simple on purpose so both
    * engines agree): emails and a fixed-format phone shape.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "\\+1-555-[0-9]{4}"

  /** X-PII: PII detection + redaction stats — the scrub pass a training
    * corpus runs before anything else. The fixture text carries no PII,
    * so a deterministic synthetic contact line is appended to every 7th
    * doc ON BOTH SIDES (same expression in the oracle SQL); counts and
    * redacted lengths are then real regexp work, not zeros. Row-local
    * regexp (codegen'd, no UDF) then one aggregate per source.
    */
  def piiStats(spark: SparkSession, sfDir: String): DataFrame = {
    val withPii = Tables.documents(spark, sfDir)
      .withColumn("t2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
    withPii
      .select(col("source"),
        regexp_count(col("t2"), lit(EmailPat)).cast("long").as("n_em"),
        regexp_count(col("t2"), lit(PhonePat)).cast("long").as("n_ph"),
        length(regexp_replace(
          regexp_replace(col("t2"), EmailPat, "[EMAIL]"),
          PhonePat, "[PHONE]")).cast("long").as("rlen"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_em") + col("n_ph") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"),
        sum("n_em").as("n_emails"),
        sum("n_ph").as("n_phones"),
        sum("rlen").as("redacted_chars"))
      .orderBy("source")
  }

  /** X-TEXT-NORM: canonicalization pass (lowercase, collapse runs of
    * whitespace, trim, clamp to [[MaxDocChars]] chars) with before/after
    * accounting per source — the first map stage of every text pipeline.
    * Pure row-local expression work; the aggregate is the only shuffle.
    */
  val MaxDocChars = 256

  def normalizeStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), col("text"),
        substring(trim(regexp_replace(lower(col("text")), "\\s+", " ")),
          1, MaxDocChars).as("norm"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("text")).cast("long")).as("chars_before"),
        sum(length(col("norm")).cast("long")).as("chars_after"))
      .orderBy("source")

  def vocabulary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(50)

  /** Coverage checkpoints for [[vocabCoverage]]. */
  val CoverageKs = Seq(10, 50, 100, 250)

  /** X-VOCAB-COVERAGE: vocabulary coverage curve — what fraction of the
    * corpus's TOKEN OCCURRENCES the top-K most frequent types cover, at
    * pinned checkpoints. This is the tokenizer-design metric: it says how
    * big a vocabulary must be before OOV mass is negligible, and how
    * heavy the head is (Zipf corpora cover most mass with few types).
    *
    * Scale shape: the (token, count) agg is the one heavy shuffle (shared
    * semantics with X-VOCAB); the global top-max(K) ranking then runs
    * through the custom TopKPerKey bounded-heap operator with a CONSTANT
    * key — partial heaps of max(K) entries per partition, never a global
    * sort of the vocabulary. Coverage fractions are exact-integer sums
    * with ONE final division each.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("total_tokens"),
      count(lit(1)).as("n_types"))
    val kMax = CoverageKs.max
    val top = graft.plans.TopKPerKey(counts.withColumn("g", lit(1)),
        keys = Seq("g"), order = Seq(("c", true), ("token", false)), k = kMax)
      .select(col("rank"), col("c"))
    val covAggs = CoverageKs.map(k =>
      sum(when(col("rank") <= k, col("c")).otherwise(lit(0L))).as(s"cov_$k"))
    val covered = top.agg(covAggs.head, covAggs.tail: _*)
    val one = covered.crossJoin(broadcast(total))
    val rows = CoverageKs.map(k =>
      one.select(lit(k.toLong).as("k"), col(s"cov_$k").as("covered_tokens"),
        col("total_tokens"), col("n_types"),
        (col(s"cov_$k").cast("double") / col("total_tokens").cast("double"))
          .as("coverage")))
    rows.reduce(_ unionByName _).orderBy("k")
  }

  /** X-HEAVY-HITTERS: approximate frequent-token detection via the
    * mergeable SpaceSaving summary ([[graft.functions.HeavyHitters]]) —
    * the typed-`Aggregator` UDAF surface (SURVEY.md §2.8) and the
    * bounded-memory alternative to [[vocabulary]]'s full frequency
    * table: the sketch holds ≤ 256 entries per partial no matter the
    * vocabulary size, where the exact plan's partial agg state grows
    * with distinct tokens (at 100 TB a web-scale vocab overflows
    * partial-agg hash maps into sort-based spill; the sketch never
    * does). Raw sketch estimates are merge-order-dependent, so the
    * oracle-checked surface is the SpaceSaving GUARANTEE: every token
    * with true count > N/capacity must be present in the sketch — the
    * exact top-10 (all clearing that bound on the fixture corpora,
    * spec-asserted) each carry an `in_sketch` flag the oracle pins to 1.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
    val sketch = toks.select(
      udaf(graft.functions.HeavyHitters.spaceSaving,
        org.apache.spark.sql.Encoders.STRING)
        .apply(col("token")).as("sketch"))
    val exactTop = toks
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(10)
    exactTop.crossJoin(broadcast(sketch))
      .select(col("token"), col("freq"),
        when(map_contains_key(col("sketch"), col("token")), 1L)
          .otherwise(0L).as("in_sketch"))
      .orderBy(desc("freq"), asc("token"))
  }

  /** X-CMS: Count-Min frequency estimation over the token stream — the
    * bounded-memory (8 KB/partial) answer to "how often does token t
    * occur" at any vocabulary size. Because the CMS merge is pure
    * addition, the finished sketch — and therefore every RAW estimate —
    * is deterministic under any partitioning, so the oracle recomputes
    * the exact estimates (per-row collision sums over the vocabulary
    * with the same poly-hashes) and hash-matches them, not just bound
    * flags. Checked per exact top-10 token: exact count, sketch
    * estimate, and the est ≥ true invariant.
    */
  def cmsEstimates(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    import graft.functions.CountMin
    // cut: the sketch aggregate and the exact top-10 both consume the
    // token stream — one tokenize+explode pass instead of two (at scale
    // the equivalent is a materialized token table both aggregates read)
    val toks = sc.cut(Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token")))
    def cell(r: Int): Column =
      pmod(graft.functions.PolyHash.poly_hash(col("token"), CountMin.Bases(r)),
        lit(CountMin.Width.toLong)).cast("int")
    val sketch = toks
      .select(cell(0).as("c0"), cell(1).as("c1"), cell(2).as("c2"), cell(3).as("c3"))
      .select(
        udaf(CountMin.cms,
          org.apache.spark.sql.Encoders.product[CountMin.Cells])
          .apply(col("c0"), col("c1"), col("c2"), col("c3")).as("sketch"))
    val exactTop = toks
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(10)
    val est = (0 until CountMin.Depth).map(r =>
        element_at(col("sketch"), cell(r) + lit(r * CountMin.Width) + 1))
      .reduce(least(_, _))
    exactTop.crossJoin(broadcast(sketch))
      .select(col("token"), col("freq"), est.as("cms_est"),
        when(est >= col("freq"), 1L).otherwise(0L).as("cms_ge_exact"))
      .orderBy(desc("freq"), asc("token"))
  }

  /** X-COOCCUR min document-frequency gate: a token participates in pair
    * counting only when `df · 4 ≥ N` (present in ≥ 25% of docs). The gate
    * is the SCALE bound of co-occurrence mining — the within-doc pair
    * blow-up is quadratic in the doc's kept-vocabulary size, so capping
    * the vocabulary to frequent terms caps the pair count per doc. The
    * integer-ratio form (df·4 ≥ N, never df/N ≥ 0.25) keeps the predicate
    * exact on both engines.
    */
  val CooccurMinDfTimes4 = 4L

  /** X-COOCCUR: within-document token co-occurrence — the PMI/association
    * table feeding collocation extraction and phrase mining. For each
    * frequent-token pair (a < b): `c_xy` = docs containing both, `c_x` /
    * `c_y` = each token's df, and an exact integer association score,
    * `⌊c_xy·N·10⁶ / (c_x·c_y)⌋` — PMI's argument scaled to a BIGINT
    * (PMI = log of it /10⁶; the log is monotone, so ranking by the exact
    * integer IS the PMI ranking, with no libm in either engine). Top 30
    * by (score, pair) via TakeOrdered.
    *
    * Plan: one tokenize+explode (distinct within doc), one df aggregate
    * (broadcast back as the gate), one within-doc self-join whose per-doc
    * cost the df gate bounds, one pair aggregate, broadcast df lookups,
    * TakeOrdered 30. Shuffles carry (doc, token) and (pair) keys only —
    * never document text.
    */
  def cooccur(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("t"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val gate = dfreq.crossJoin(broadcast(n))
      .filter(col("df") * CooccurMinDfTimes4 >= col("n_docs"))
      .select(col("t"), col("df"))
    // cut: the self-join below consumes `kept` on BOTH sides, and
    // without a shared relation each side re-tokenizes and re-gates the
    // whole corpus (the double-scan Dedup's signature cache exists to
    // avoid)
    val kept = sc.cut(tok.join(broadcast(gate), "t"))
    val pairs = kept.select(col("doc_id"), col("t").as("ta"), col("df").as("c_x"))
      .join(kept.select(col("doc_id"), col("t").as("tb"), col("df").as("c_y")), "doc_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "c_x", "tb", "c_y")
      .agg(count(lit(1)).as("c_xy"))
    pairs.crossJoin(broadcast(n))
      .select(col("ta"), col("tb"), col("c_xy"), col("c_x"), col("c_y"),
        expr("CAST((c_xy * n_docs * 1000000) div (c_x * c_y) AS BIGINT)").as("score"))
      .orderBy(desc("score"), asc("ta"), asc("tb"))
      .limit(30)
  }

  // ---- Gopher-style corpus quality rules (X-REP-NGRAM / X-GOPHER) ----

  /** Integer thresholds for the rule pack (all comparisons stay in exact
    * integer arithmetic — `sum·k ≥ n·m` instead of a float ratio):
    * word count ∈ [30, 200]; mean word length ∈ [4, 6]; ≥ 2 stopword
    * occurrences; repeated-trigram occurrence share ≤ 2% (dup·50 ≤ total).
    * The shape is the Gopher/MassiveText rule family (Rae et al. 2021,
    * §A1.1); the numbers are calibrated to the fixture so every rule has
    * both passing and failing documents.
    */
  val GopherMinTokens = 30L
  val GopherMaxTokens = 200L
  val GopherMinMeanLen = 4L
  val GopherMaxMeanLen = 6L
  val GopherMinStopwords = 2L
  val GopherRepTimes = 50L

  /** Per-document row-local quality features shared by [[repNgram]] and
    * [[gopherRules]]: token count, summed token length, stopword
    * occurrences, and the trigram occurrence/distinct pair (duplicated
    * trigram mass is the Gopher repetition signal). Everything is
    * higher-order-function work inside the row — zero shuffle; the
    * `size ≥ 3` guard matters because Spark's `sequence(1, n)` runs
    * DESCENDING for n < 1 rather than returning empty.
    */
  private def gopherFeatures(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val tris = when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    docs.select(
      col("source"),
      size(toks).cast("long").as("n_tok"),
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _).as("sum_len"),
      size(filter(toks, t => t.isin(Stopwords: _*))).cast("long").as("n_stop"),
      size(tris).cast("long").as("n_tri"),
      size(array_distinct(tris)).cast("long").as("n_tri_d"))
  }

  /** X-REP-NGRAM: repeated-trigram mass per source — the Gopher
    * repetition signal (machine-generated/boilerplate text repeats
    * n-grams; natural text rarely does). `rep_rate` is ONE division of
    * two exact corpus-level BIGINTs (deterministic to the bit on both
    * engines — no per-doc float ratios to sum); `n_repetitive` counts
    * docs over the 2% threshold in exact integer form.
    */
  def repNgram(spark: SparkSession, sfDir: String): DataFrame =
    gopherFeatures(Tables.documents(spark, sfDir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tri") - col("n_tri_d")).as("dup_occ"),
        sum("n_tri").as("tri_occ"),
        sum(when((col("n_tri") - col("n_tri_d")) * GopherRepTimes > col("n_tri"), 1L)
          .otherwise(0L)).as("n_repetitive"))
      .withColumn("rep_rate",
        col("dup_occ").cast("double") / col("tri_occ").cast("double"))
      .select("source", "n_docs", "dup_occ", "tri_occ", "n_repetitive", "rep_rate")
      .orderBy("source")

  /** X-GOPHER: the composite quality-rule pack per source — word-count
    * bounds, mean-word-length bounds, stopword floor, repetition cap —
    * with per-rule failure counts (the tuning view: which rule is doing
    * the filtering) and the all-rules pass count (the survivor corpus).
    * One narrow row-local pass + one partial-aggregated shuffle.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val wcOk = col("n_tok") >= GopherMinTokens && col("n_tok") <= GopherMaxTokens
    val mwlOk = col("sum_len") >= col("n_tok") * GopherMinMeanLen &&
      col("sum_len") <= col("n_tok") * GopherMaxMeanLen
    val stopOk = col("n_stop") >= GopherMinStopwords
    val repOk = (col("n_tri") - col("n_tri_d")) * GopherRepTimes <= col("n_tri")
    def fails(ok: org.apache.spark.sql.Column) =
      sum(when(ok, 0L).otherwise(1L))
    gopherFeatures(Tables.documents(spark, sfDir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        fails(wcOk).as("n_fail_wordcount"),
        fails(mwlOk).as("n_fail_wordlen"),
        fails(stopOk).as("n_fail_stopwords"),
        fails(repOk).as("n_fail_repetition"),
        sum(when(wcOk && mwlOk && stopOk && repOk, 1L).otherwise(0L)).as("n_pass"))
      .orderBy("source")
  }

  /** X-TEXT fingerprinting with the native codegen'd rolling-hash
    * expression — the normalized-text fingerprint that exact dedup groups
    * on at scale (8-byte shuffle key instead of full text).
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        rolling_hash(lower(col("text"))).as("fp"),
        rolling_hash(col("text")).as("fp_cased"))

  // ---- hashing-trick featurization (X-HASH-FEATURES) --------------------

  /** Feature-hash bucket count (the HashingVectorizer dimensionality). */
  val HashFeatDims = 64

  /** X-HASH-FEATURES: the hashing trick (Weinberger et al., ICML 2009;
    * sklearn's HashingVectorizer) over document bigrams — the
    * featurization that needs NO vocabulary pass: gram → bucket via
    * `poly_hash(g, 131) mod 64`, contribution sign via the independent
    * `poly_hash(g, 137) mod 2` (the double-hashing trick that makes
    * collisions cancel in expectation instead of biasing upward). The
    * report is the per-(source, bucket) feature table — occurrence
    * count, signed sum (the actual feature value), and the exact
    * distinct-gram load per bucket, which measures the collision rate
    * the chosen dimensionality costs (the design trade the operator
    * exists to expose).
    *
    * Scale shape: one explode + ONE partial+final agg onto
    * (source, bucket, gram-hash-64) — the shuffle carries 8-byte rolling
    * hashes, never gram strings — then a ≤ sources×64-row rollup. At
    * 100 TB the distinct-load column swaps for an HLL partial
    * (X-HLL's accuracy contract); counts and signed sums are plain
    * mergeable counters.
    */
  def hashFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("g"))
      .select(col("source"),
        pmod(graft.functions.PolyHash.poly_hash(col("g"), 131),
          lit(HashFeatDims.toLong)).as("bucket"),
        (pmod(graft.functions.PolyHash.poly_hash(col("g"), 137), lit(2L)) * 2L - 1L)
          .as("sign"),
        rolling_hash(col("g")).as("g64"))
    grams
      .groupBy("source", "bucket", "g64")
      .agg(count(lit(1)).as("n"), sum("sign").as("s"))
      .groupBy("source", "bucket")
      .agg(
        sum("n").as("n_grams"),
        sum("s").as("signed_sum"),
        count(lit(1)).as("n_distinct_grams"))
      .orderBy("source", "bucket")
  }
}
