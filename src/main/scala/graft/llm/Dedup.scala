package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}
import graft.functions.{PolyHash, PolyHashing, PolyShingles}
import graft.functions.RollingHash.rolling_hash

/** X-DEDUP (SURVEY.md §2.7): exact and near-duplicate detection over the
  * `documents` table — the core of any large-scale training-data pipeline.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison.
  *  - exact: group by a (64-bit, 31-bit) hash pair of the text — the
  *    shuffle key is 16 bytes of hashes plus the tiny aggregate columns,
  *    never the document text;
  *  - MinHash + LSH: shingle → 64-slot signature → 16 banded hash keys →
  *    pairs only within band buckets (standard banding: docs with Jaccard
  *    ≥ ~0.5 collide in ≥1 band w.h.p.);
  *  - SimHash: 60-bit fingerprint, banded into 4×15-bit keys, Hamming
  *    filter on candidates;
  *  - n-gram Jaccard: exact verification on a *bounded* candidate set.
  * All signature math is codegen'd native expressions in the
  * poly-hash domain (graft.functions.PolyHashing), so the DuckDB oracle
  * reproduces signatures, candidate pairs, and estimates exactly
  * (graft.OracleLlm builds the mirror SQL).
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Exact dedup: hash-group on (rolling_hash, poly_hash) of the text —
    * ~95 bits of key, so distinct texts land in distinct groups at any
    * realistic corpus size while the shuffle moves hashes, not documents.
    * n_chars rides along as a grouping column (it is a function of the
    * text). Output one row per distinct text with its duplicate count —
    * the oracle groups by the full text and must agree.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        rolling_hash(col("text")).as("h64"),
        PolyHash.poly_hash(col("text"), 137).as("h31"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("h64", "h31", "n_chars")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("n_chars"))
    // (per-doc manifests end map-side: the correctness gates sort rows
    // themselves; a final global sort on a corpus-sized output is a
    // pure-waste exchange on the write path — convention for every
    // corpus-scaled output in this file)

  // ---- MinHash + LSH --------------------------------------------------

  val NumHashes: Int = graft.functions.MinHashSig.NumHashes
  val NumBands = 16
  val RowsPerBand: Int = NumHashes / NumBands
  val ShingleK = 8

  /** Minimum signature-estimated Jaccard for a candidate pair to count as
    * a near-duplicate (the banding design point: 16 bands × 4 rows has
    * its S-curve threshold around 0.5). Banding false-positive collisions
    * below this estimate are verification noise, not duplicates — the
    * pipeline must not drop documents for them.
    */
  val NearDupThreshold = 0.5

  /** Character k-shingles hashed into [0, 2^31-1) via the poly-hash
    * kernel — one pass, sorted distinct. Empty for texts shorter than k.
    */
  def shingleHashes(c: Column, k: Int = ShingleK): Column =
    PolyShingles.poly_shingles(c, k)

  /** 64-slot MinHash signature: sig_i = min over shingles of
    * (a_i*h + b_i) mod 2^31-1 — the native codegen'd kernel
    * ([[graft.functions.MinHashSig]]); the equivalent higher-order-function
    * expression allocated an array per permutation per row and benched
    * 10× slower at sf0.1.
    */
  def minhashSignature(c: Column): Column = {
    val hs = shingleHashes(c)
    when(size(hs) > 0, graft.functions.MinHashSig.minhash_sig(hs))
  }

  /** doc_id → signature. [[signatureTable]] stores it once per corpus:
    * the pair-generation self-join and the estimate join both reuse it
    * (at 100 TB this is a persisted signature table, not a recomputation
    * per consumer).
    */
  def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0) // shingle-less docs have no signature
      .select(col("doc_id"), graft.functions.MinHashSig.minhash_sig(col("hs")).as("sig"))

  private val sigCache = new graft.Memo("dedup.signatures")

  /** Memoized and stored per (session, sfDir): consumers (minhashPairs,
    * dedupPipeline) share one DataFrame instance, so the signatures are
    * computed once.
    */
  def signatureTable(spark: SparkSession, sfDir: String): DataFrame =
    sigCache.getOrBuild(spark, sfDir, cache = true) {
      signatures(Tables.documents(spark, sfDir))
    }

  /** Polynomial fold of `RowsPerBand` signature slots into one band key —
    * slots < 2^31 and 1000003·(2^31-1) < 2^51, so the fold never
    * overflows and the oracle reproduces it with list_reduce.
    */
  private def bandKey(sig: Column, band: Column): Column =
    aggregate(
      slice(sig, band * RowsPerBand + 1, lit(RowsPerBand)),
      lit(0L),
      (acc, x) => (acc * 1000003L + x) % PolyHashing.Mod)

  /** LSH banding: 16 (band, bandKey) rows per doc; candidate pairs are
    * doc pairs sharing ≥1 band key. The self-join is on the banded key —
    * shuffle is by (band, key), never all-pairs.
    */
  /** The 16 (band, bandKey) rows per signed doc — the persisted LSH
    * band index an incremental consumer looks new docs up against.
    */
  private[llm] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(NumBands - 1)), j =>
        struct(j.as("band"), bandKey(col("sig"), j).as("bkey"))))
        .as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bkey"))

  def candidatePairs(sigs: DataFrame): DataFrame = {
    val bands = bandsOf(sigs)
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
  }

  private val pairsCache = new graft.Memo("dedup.minhash_pairs")

  /** Memoized + cached estimated-similarity pair table: FIVE consumers
    * (x_dedup_minhash, x_dedup_pipeline, x_decontam, x_connected,
    * x_graph_degree) need the banded self-join + signature-compare, and
    * re-running it per query is the same tiny-tax mistake as re-scanning
    * fb_stat was — the pair set is small (bounded by banding), so one
    * cache entry serves them all.
    */
  def minhashPairsTable(spark: SparkSession, sfDir: String): DataFrame =
    pairsCache.getOrBuild(spark, sfDir, cache = true) {
      val sigs = signatureTable(spark, sfDir)
      candidatePairs(sigs)
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .select(
          col("id_a"), col("id_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast("double") / NumHashes).as("est_jaccard"))
    }

  /** X-DEDUP MinHash: candidate near-dup pairs with the signature-based
    * Jaccard estimate (fraction of agreeing slots).
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsTable(spark, sfDir)

  /** Per-source corpus signatures via the mergeable [[graft.functions.MinHashMerge]]
    * aggregate (elementwise-min union), then pairwise cross-source
    * similarity estimates — the corpus-level dedup/contamination view.
    * Deterministic and oracle-checked end to end (the oracle re-derives
    * the merged signatures with the same permutations).
    */
  def sourceSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val docSigs = signatureTable(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), col("sig"))
    val merged = docSigs.groupBy("source")
      .agg(graft.functions.MinHashMerge.minhash_merge(col("sig")).as("msig"))
    val a = merged.select(col("source").as("src_a"), col("msig").as("sig_a"))
    val b = merged.select(col("source").as("src_b"), col("msig").as("sig_b"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))
          .cast("double") / NumHashes).as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** X-CONTRASTIVE: contrastive-triplet mining — the training-pair
    * extraction an embedding/retrieval training pipeline runs over the
    * dedup machinery's by-product. Per anchor document, the POSITIVE is
    * its most-similar verified near-dup (est ≥ [[NearDupThreshold]])
    * and the HARD NEGATIVE its best banding NEAR MISS — a candidate
    * that collided in ≥1 LSH band yet verified BELOW threshold, which
    * is precisely the "looks similar, isn't" example hard-negative
    * mining wants (random negatives are trivially far; band collisions
    * are the informative ones). Anchors lacking either side emit
    * nothing (a triplet needs both). Ties break (max est, min partner)
    * via a single struct argmax — the explicit two-key form on both
    * engines.
    *
    * Scale shape: everything derives from the memoized banded pair
    * table (never all-pairs); the symmetrization and the two argmax
    * aggs run on the pair-sized frame, and the final join is
    * anchor-keyed. No text, no signatures move — just (id, id, est).
    */
  def contrastivePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairsTable(spark, sfDir)
    val sym = pairs
      .select(col("id_a").as("anchor"), col("id_b").as("partner"), col("est_jaccard"))
      .unionAll(pairs
        .select(col("id_b").as("anchor"), col("id_a").as("partner"), col("est_jaccard")))
    def bestBy(side: DataFrame, idName: String, jacName: String): DataFrame =
      side.groupBy("anchor")
        .agg(max(struct(col("est_jaccard").as("e"),
          (-col("partner")).as("np"))).as("m"))
        .select(col("anchor"),
          (-col("m.np")).cast("long").as(idName), col("m.e").as(jacName))
    val pos = bestBy(sym.filter(col("est_jaccard") >= NearDupThreshold),
      "pos_id", "pos_jac")
    val neg = bestBy(sym.filter(col("est_jaccard") < NearDupThreshold),
      "neg_id", "neg_jac")
    pos.join(neg, Seq("anchor"))
      .select(col("anchor").cast("long").as("anchor"),
        col("pos_id"), col("pos_jac"), col("neg_id"), col("neg_jac"))
      .orderBy("anchor")
  }

  /** End-to-end corpus dedup pipeline: exact dups out first (keep min
    * doc_id per text), then near-dups out — for every MinHash candidate
    * pair whose estimate clears [[NearDupThreshold]], the higher doc_id
    * is dropped (below-threshold banding collisions are NOT duplicates
    * and must survive). Survivor counts per source.
    */
  def dedupPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // exact stage keys on the same (64-bit, 31-bit, length) triple as
    // [[exact]]: the dedup Exchange carries 24 bytes per doc, never the
    // text — grouping by the raw text column would shuffle the corpus.
    val exactKept = docs
      .select(col("doc_id"),
        rolling_hash(col("text")).as("h64"),
        PolyHash.poly_hash(col("text"), 137).as("h31"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("h64", "h31", "n_chars").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val kept = docs.join(exactKept, Seq("doc_id"), "left_semi")
    val dropNear = minhashPairsTable(spark, sfDir)
      .filter(col("est_jaccard") >= NearDupThreshold)
      .select(col("id_b").as("doc_id")).distinct()
    val survivors = kept.join(dropNear, Seq("doc_id"), "left_anti")
    survivors.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(length(col("text"))).cast("long").as("kept_chars"))
      .orderBy("source")
  }

  // ---- asymmetric shingle containment (X-CONTAINMENT) -----------------

  private val hsCache = new graft.Memo("dedup.shingles")

  /** Memoized per-doc shingle-hash SETS (doc_id, hs) — the exact-verify
    * sibling of [[signatureTable]]: signatures estimate, the sets decide.
    * Cached because BOTH sides of the containment pair join consume it.
    */
  def shingleTable(spark: SparkSession, sfDir: String): DataFrame =
    hsCache.getOrBuild(spark, sfDir, cache = true) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
        .filter(size(col("hs")) > 0)
    }

  /** Anchor hashes per doc for the asymmetric candidate source: the
    * [[ContainAnchorK]] smallest hashes among A's RARE shingles (df ≤
    * [[ContainDfCap]]). Under a random hash the min of A's rare-shingle
    * set is a uniform draw from it, so if containment(A→B) = c, each
    * anchor lands in A∩B (and thus in B's posting list) with
    * probability ≈ c — recall 1−(1−c)^k, and EXACTLY 1 for full
    * containment of any doc owning ≥1 rare shingle. This is the recall
    * the symmetric banding cannot give: a short doc quoted in a long
    * one has Jaccard |A|/|B| ≈ 0 and rarely band-collides.
    */
  val ContainAnchorK = 2

  /** Rarity bound for anchor-eligible shingles — the classic
    * prefix-filter discipline applied in the hash domain: boilerplate
    * "stop shingles" (shared by most of a corpus — the sf0.1 fixture
    * has template 8-grams with df ≈ 0.75·n) would otherwise each fan
    * one anchor out to the whole corpus (measured: 3.3M candidate
    * pairs at df≤1000 vs 26k at df≤100 on sf0.1, with the subset-pair
    * recall unchanged — a quoted doc's distinctive shingles are rare
    * by definition). A doc whose EVERY shingle is frequent gets no
    * anchors: it IS boilerplate, and the banded side still covers its
    * high-Jaccard pairs.
    */
  val ContainDfCap = 100L

  /** The UNION candidate set for containment: banded LSH pairs (high
    * symmetric similarity) ∪ rare-anchor-join pairs (high asymmetric
    * containment at any Jaccard). Both sides oriented id_a < id_b.
    * Scale shape: one (hash)-keyed df agg over the posting explode,
    * one semi join to the rare posting set, a per-doc bounded window
    * for the k smallest rare hashes, and a hash-keyed equi-join whose
    * fanout is ≤ df_cap per anchor.
    */
  def containmentCandidates(hs: DataFrame, bandedPairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = hs.select(col("doc_id").as("id_o"), explode(col("hs")).as("h"))
    val rare = postings.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainDfCap).select("h")
    val rarePost = postings.join(rare, Seq("h"), "left_semi")
    val anchors = rarePost
      .withColumn("rn", row_number().over(
        Window.partitionBy("id_o").orderBy("h")))
      .filter(col("rn") <= ContainAnchorK)
      .select(col("id_o").as("id_s"), col("h"))
    val asym = anchors
      .join(rarePost, Seq("h"))
      .filter(col("id_s") =!= col("id_o"))
      .select(least(col("id_s"), col("id_o")).as("id_a"),
        greatest(col("id_s"), col("id_o")).as("id_b"))
    bandedPairs.select("id_a", "id_b").union(asym).distinct()
  }

  /** Exact containment verify over any candidate set — separated from
    * the registered query so a spec can drive it with a synthetic
    * short-doc-quoted-in-long-doc corpus.
    */
  def containmentOf(hs: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(hs.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(hs.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("hs_a")).cast("long").as("n_a"),
        size(col("hs_b")).cast("long").as("n_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("n_common"))
      .withColumn("cont_a_ppm", expr("n_common * 1000000 div n_a"))
      .withColumn("cont_b_ppm", expr("n_common * 1000000 div n_b"))

  /** X-CONTAINMENT: asymmetric shingle containment per candidate pair —
    * Jaccard is SYMMETRIC, so a short doc wholly quoted inside a long
    * one scores |A|/|B| ≈ 0 and survives dedup; containment
    * |A∩B|/|A| reads 1.0 for exactly that case (Broder's original
    * resemblance/containment split, and the reason dup-span pipelines
    * exist). Candidates are the UNION of the SHARED banded LSH index
    * ([[minhashPairsTable]]) and the asymmetric anchor source
    * ([[containmentCandidates]]: each doc's k smallest shingle hashes
    * joined against the df-capped posting list) — the banded side alone
    * would systematically MISS the motivating subset pairs, because
    * low-Jaccard pairs band-collide with probability ≈ s^r per band.
    * The verify is the EXACT set intersection of the two shingle-hash
    * sets, reported per pair as both directions in integer ppm
    * (n_common·10^6 div n) — all exact integers on both engines.
    *
    * Scale shape: the banded pair table is banding-bounded; the anchor
    * join is bounded by k·df_cap per doc; shingle sets stream from the
    * persisted [[shingleTable]] through two hash joins keyed on doc_id;
    * the intersection is row-local array work. At 100 TB the shingle
    * table is the persisted inverted-index side artifact, bucketed by
    * doc_id, and the verify touches only candidate rows.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame = {
    val hs = shingleTable(spark, sfDir)
    containmentOf(hs,
      containmentCandidates(hs, minhashPairsTable(spark, sfDir)))
  }

  // ---- marginal source coverage (X-MARGINAL-COVERAGE) -----------------

  /** X-MARGINAL-COVERAGE: per-source marginal shingle contribution — the
    * data-valuation question behind every acquisition decision: walking
    * sources in their (lexicographic) arrival order, how many shingles
    * does source i add that NO earlier source already covered? A source
    * whose n_new ≈ 0 is paying storage for content the corpus already
    * has (the submodular coverage-curve reading; Wei et al., ICML 2015
    * use exactly this marginal-gain structure for data subset
    * selection). Computed without any per-prefix recomputation: the
    * first owner of a shingle is `min(source)` over its occurrences —
    * ONE agg keyed on the shingle hash decides every marginal count at
    * once. Output per source: distinct shingles, first-owned shingles,
    * and the novelty share in integer ppm.
    *
    * Scale shape: the shuffles carry (source, hash) and (hash) keys —
    * 8-byte hashes, never text; both aggs are partial+final; the final
    * join is dim-sized (sources).
    */
  def marginalCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE wide exchange (keyed on the 8-byte shingle hash) computes both
    // answers at once: per hash, the distinct source set (collect_set —
    // partial+final, so the map side dedups before shuffling) and its min
    // (the first-owner rule). Exploding the per-hash source set back out
    // yields exactly the distinct (source, h) pairs, so the per-source
    // totals and first-owner counts come from one source-keyed rollup —
    // the previous form paid a (source, h) distinct exchange, a cached
    // intermediate pinning storage, TWO more aggregates and a
    // materializing localCheckpoint job (guide §2.4: two operations
    // keyed the same way share one exchange).
    val byHash = Tables.documents(spark, sfDir)
      .select(col("source"), explode(shingleHashes(col("text"))).as("h"))
      .groupBy("h")
      .agg(collect_set("source").as("srcs"), min("source").as("first_src"))
    byHash
      .select(explode(col("srcs")).as("source"), col("first_src"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("source") === col("first_src"), 1)).as("n_new"))
      .withColumn("new_share_ppm", expr("n_new * 1000000 div n_shingles"))
      .orderBy("source")
  }

  // ---- banding design curve (X-LSH-CURVE) ------------------------------

  /** X-LSH-CURVE: the S-curve that justifies the 16-band × 4-row design
    * point, materialized AGAINST the measured pair distribution — the
    * table a banding change is decided on: for each similarity s the
    * theoretical candidate probability P(s) = 1 − (1 − s^r)^b, and next
    * to it how many ACTUAL banded candidates landed in that similarity
    * bucket. The float chain is engine-exact without pow(): s^4 and the
    * 16th power are EXPLICIT multiplication chains (x², x⁴, x⁸, x¹⁶ —
    * every step one IEEE multiply on identical operands; `pow` has no
    * cross-engine rounding contract, a multiply chain does). Measured
    * counts bucket the shared banded pair table's estimates at 5%
    * resolution (floor(est·20), clamped). Zero fact-side cost beyond
    * the memoized pair table: the curve itself is a 20-row frame.
    */
  def lshCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = spark.range(0, 20).select((col("id") * 5L).as("s_pct"))
    val s = col("s_pct").cast("double") / 100.0d
    val s4 = s * s * s * s
    val q = lit(1.0d) - s4
    val q2 = q * q; val q4 = q2 * q2; val q8 = q4 * q4; val q16 = q8 * q8
    val theory = grid.select(col("s_pct"), (lit(1.0d) - q16).as("p_cand_theory"))
    val measured = minhashPairsTable(spark, sfDir)
      .select((least(floor(col("est_jaccard") * 20.0d), lit(19.0d))
        .cast("long") * 5L).as("s_pct"))
      .groupBy("s_pct")
      .agg(count(lit(1)).as("n_pairs"))
    theory.join(measured, Seq("s_pct"), "left")
      .select(col("s_pct"), col("p_cand_theory"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("s_pct")
  }

  // ---- SimHash --------------------------------------------------------

  val SimBits: Int = graft.functions.SimHash.Bits
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands // 15
  val SimHammingMax = 8

  /** 60-bit SimHash over whitespace tokens: per token two poly hashes
    * supply 30 bits each; fingerprint bit = sign of the ±1 vote sum.
    * Native codegen'd kernel ([[graft.functions.SimHash]]) — the
    * higher-order-function formulation allocated a 60-wide array per
    * token per row.
    */
  def simhash(c: Column): Column =
    graft.functions.SimHash.simhash(TextAnalysis.tokens(c))

  private val fpCache = new graft.Memo("dedup.fingerprints")

  /** Memoized + cached fingerprint table: the banded SELF-join below
    * references it twice, and without a shared cached instance each side
    * re-tokenizes and re-hashes every document.
    */
  def simhashTable(spark: SparkSession, sfDir: String): DataFrame =
    fpCache.getOrBuild(spark, sfDir, cache = true) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), simhash(col("text")).as("fp"))
    }

  /** X-DEDUP SimHash: near-dup pairs = same 15-bit band + Hamming ≤ 8. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = simhashTable(spark, sfDir)
    val bands = fps.select(
      col("doc_id"), col("fp"),
      explode(transform(sequence(lit(0), lit(SimBands - 1)), j =>
        struct(j.as("band"),
          call_function("shiftright", col("fp"), j * SimBandBits)
            .bitwiseAND((1L << SimBandBits) - 1).as("bkey"))))
        .as("b"))
      .select(col("doc_id"), col("fp"), col("b.band"), col("b.bkey"))
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(
        col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimHammingMax)
  }

  // ---- exact n-gram Jaccard ------------------------------------------

  /** Distinct character k-grams (oracle-reproducible in DuckDB list SQL). */
  def grams(c: Column, k: Int): Column =
    array_distinct(transform(sequence(lit(1), length(c) - (k - 1)), i => c.substr(i, lit(k))))

  def trigrams(c: Column): Column = grams(c, 3)

  /** X-DEDUP n-gram Jaccard on a bounded candidate set (consecutive
    * doc_ids): exact intersection/union — int division done identically
    * in the oracle, so values hash-match.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), trigrams(col("text")).as("grams"))
    val a = docs.select(col("doc_id").as("id_a"), col("grams").as("g_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("grams").as("g_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(
        col("id_a"), col("id_b"),
        size(array_intersect(col("g_a"), col("g_b"))).cast("long").as("n_common"),
        size(array_union(col("g_a"), col("g_b"))).cast("long").as("n_union"))
      .withColumn("jaccard", col("n_common").cast("double") / col("n_union").cast("double"))
  }

  // ---- fuzzy string matching (X-FUZZY-JOIN) --------------------------

  /** Fuzzy-join banding key: [[grams]] at k=2 (an edit-distance-1 pair
    * always shares at least one 2-gram when both strings are ≥ 3 chars:
    * one deletion destroys at most two grams).
    */
  private def bigramsOf(c: Column): Column = grams(c, 2)

  /** X-FUZZY-JOIN: edit-distance entity resolution — match DIRTY strings
    * (here: each vocabulary token with one deterministically-dropped
    * character, the canonical typo model) back to the clean vocabulary.
    * The scale shape is the MinHash-LSH one re-applied to edit distance:
    * candidates come from an EQUI-join on shared character 2-grams
    * (never a cross join with `levenshtein` in the condition — that is
    * the O(n·m) trap), the exact Levenshtein verify runs only on the
    * banded candidate set, and the best match per dirty string is a
    * partitioned row_number over (distance, token). `n_cands` rides
    * along as the banding-effectiveness audit. All output is strings +
    * exact integers — hash-exact on both engines (DuckDB's `levenshtein`
    * computes the same unit-cost metric as Spark's).
    */
  def fuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .distinct()
      .filter(length(col("token")) >= 4)
    // deterministic typo: drop the char at position length%3 + 1
    val p = length(col("token")) % 3 + 1
    val dirty = vocab.select(
      concat(col("token").substr(lit(1), p - 1),
        col("token").substr(p + 1, length(col("token")) - p)).as("variant"))
      .distinct()
    val dGrams = dirty.select(col("variant"), explode(bigramsOf(col("variant"))).as("g"))
    val vGrams = vocab.select(col("token"), explode(bigramsOf(col("token"))).as("g"))
    // ONE consumption of the banding stage: the candidate audit count and
    // the best-match rank are both windows over the same per-variant
    // partition, so the gram explode + equi-join + distinct runs once —
    // no second scan, no materialization to pin
    val cands = dGrams.join(vGrams, "g")
      .select("variant", "token").distinct()
      .withColumn("lev", levenshtein(col("variant"), col("token")))
      .withColumn("n_cands", count(lit(1)).over(Window.partitionBy("variant")))
    cands.filter(col("lev") <= 1)
      .withColumn("rn", row_number().over(
        Window.partitionBy("variant").orderBy("lev", "token")))
      .filter(col("rn") === 1)
      .select(col("variant"), col("n_cands"),
        col("token").as("best_token"), col("lev").cast("long").as("lev"))
      .orderBy("variant")
  }

  // ---- X-DEDUP-INCR ---------------------------------------------------

  /** Delta membership: every 10th doc is "today's ingest". */
  private def isDelta(id: Column): Column = pmod(id, lit(10L)) === 0L

  /** X-DEDUP-INCR: incremental near-dup detection — dedup TODAY'S
    * ingest against the whole corpus without re-banding history. The
    * full pipeline (x_dedup_minhash) self-joins the entire band index;
    * a daily pipeline cannot afford that at 100 TB, and does not need
    * to: with the band index PERSISTED, new-vs-corpus candidates come
    * from banding ONLY the delta (here: every 10th doc, a mirrored
    * deterministic membership) and equi-joining those ≤ |delta|·16 rows
    * against the full index — cost proportional to the ingest, not the
    * corpus. Output is exactly the full pair set restricted to pairs
    * touching the delta (both-delta pairs found from either side and
    * normalized), with the same signature-agreement estimate — which is
    * precisely what the oracle computes from the full formulation, so
    * the incremental shortcut is proven value-identical.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = signatureTable(spark, sfDir)
    val bands = bandsOf(sigs)
    val deltaBands = bands.filter(isDelta(col("doc_id")))
    val pairs = deltaBands.as("l")
      .join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") =!= col("r.doc_id"))
      .select(
        least(col("l.doc_id"), col("r.doc_id")).as("id_a"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est_jaccard"))
  }

  // ---- X-LSH-RECALL ---------------------------------------------------

  /** Truth-index discriminativeness cap: shingles present in more than
    * this many docs are dropped from the TRUTH candidate index (the
    * standard prefix-filter trade — a pair similar only through
    * ubiquitous shingles is invisible to the capped index on BOTH
    * engines, so truth stays mirrored).
    */
  val ShingleDfCap = 50

  /** X-LSH-RECALL: the recall half of the MinHash-LSH banding contract —
    * x_dedup_minhash proves the banding's candidate set and estimates
    * are deterministic, but never says what fraction of TRULY similar
    * pairs the bands catch (the ANN paths carry `recall_hits` for
    * exactly this reason; this is the dedup twin). Ground truth: pairs
    * with true shingle-set Jaccard ≥ [[NearDupThreshold]], found by a
    * discriminative-shingle inverted index (df ∈ [2, [[ShingleDfCap]]])
    * — an EQUI-join on shingle hash with bounded fanout, never an
    * all-pairs cross join — with the threshold test in EXACT integers
    * (`3·shared ≥ |A|+|B|` ⟺ J ≥ ½). Candidates: the same banded pair
    * set every dedup consumer uses. Output is one metrics row:
    * n_true / n_caught / n_lsh_cand / recall (empty truth pinned to
    * recall 1.0 by an integer guard). At 16 bands × 4 rows the expected
    * catch rate at J = 0.5 is 1−(1−2⁻⁴)¹⁶ ≈ 0.64 and →1 as J→1; the
    * fixture's planted near-dups sit well above threshold, which the
    * spec floor asserts.
    */
  def lshRecall(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    // reuse the memoized+cached shingle sets (the containment join's
    // source) instead of re-scanning documents and re-hashing — and the
    // plan fingerprint stays identical whether or not another consumer
    // already materialized it
    val sh = shingleTable(spark, sfDir).select(col("doc_id"), col("hs").as("shs"))
    val counts = sh.select(col("doc_id"), size(col("shs")).cast("long").as("nsh"))
    // cut: the exploded shingle index feeds the df gate AND the pair
    // join back onto itself
    val inv = sc.cut(sh.select(col("doc_id"), explode(col("shs")).as("h")))
    val okShingles = inv.groupBy("h").agg(count(lit(1)).as("dfh"))
      .filter(col("dfh") >= 2 && col("dfh") <= ShingleDfCap)
      .select("h")
    val inv2 = inv.join(okShingles, Seq("h"))
    val truth = inv2.as("a")
      .join(inv2.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("id_a"), col("nsh").as("n_a")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("nsh").as("n_b")), Seq("id_b"))
      .filter(col("shared") * 3 >= col("n_a") + col("n_b"))
      .select("id_a", "id_b")
    // reuse the memoized+cached pair table (rebuilding the banded
    // self-join here would run it twice — once per consumer subtree)
    val lsh = minhashPairsTable(spark, sfDir).select("id_a", "id_b")
    val nl = lsh.agg(count(lit(1)).as("n_lsh_cand"))
    truth
      .join(lsh.withColumn("caught", lit(1L)), Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_true"),
        coalesce(sum("caught"), lit(0L)).as("n_caught"))
      .crossJoin(broadcast(nl))
      .select(col("n_true"), col("n_caught"), col("n_lsh_cand"),
        when(col("n_true") === 0L, lit(1.0))
          .otherwise(col("n_caught").cast("double") / col("n_true").cast("double"))
          .as("recall"))
  }

  // ---- X-DUP-SPANS ----------------------------------------------------

  /** Duplicated-span n-gram width (tokens). */
  val SpanGramN = 8

  /** Two dup positions merge into one span while their token intervals
    * touch or overlap: gap ≤ [[SpanGramN]].
    */
  val SpanMergeGap = SpanGramN

  /** X-DUP-SPANS: cross-document duplicated-substring spans — the core
    * of exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022: duplicated spans, not
    * whole-doc near-dups, are what LMs memorize; X-DEDUP-* dedups
    * documents, this finds the COPIED PASSAGES inside otherwise-distinct
    * documents). Every [[SpanGramN]]-token window is keyed by its 64-bit
    * rolling hash; a position is duplicated when its hash occurs in ≥ 2
    * DISTINCT docs (within-doc repetition is X-REP-NGRAM's signal, not
    * this one); per doc, duplicated positions whose token intervals
    * touch/overlap merge into maximal spans (gaps-and-islands over the
    * position order). Output per affected doc: duplicated-window count,
    * span count, longest span, and covered tokens — the numbers that
    * decide cut-the-span vs drop-the-doc. Scale shape: the inverted
    * index shuffles (hash, doc, pos) — hashes, never gram text; the
    * dup-hash filter is a partial+final agg reusing that partitioning;
    * span merging is one per-doc sorted window. Nothing is all-pairs.
    */
  def dupSpans(spark: SparkSession, sfDir: String): DataFrame =
    dupSpansOf(Tables.documents(spark, sfDir))

  /** Core span detection over any (doc_id, text) frame — separated so
    * the property law can plant known shared passages and check the
    * reported spans exactly.
    */
  def dupSpansOf(docs: DataFrame): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.expressions.Window
    val n = SpanGramN
    // cut: the exploded gram frame feeds the dup-hash aggregate AND the
    // inverted-index join back onto it — one tokenize+explode pass
    // instead of two (BM25's memoized-tokenization pattern)
    val grams = sc.cut(docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> struct(i AS pos, concat_ws(' ', slice(toks, i, $n)) AS g))")).as("u"))
      .select(col("doc_id"), col("u.pos").cast("long").as("pos"),
        rolling_hash(col("u.g")).as("gh")))
    val dupHashes = grams
      .groupBy("gh").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    val dupPos = grams.join(dupHashes, Seq("gh"))
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dupPos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wOrd) > SpanMergeGap, 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("n_grams"),
        (max("pos") - min("pos") + n).as("span_tokens"))
    islands.groupBy("doc_id")
      .agg(
        sum("n_grams").as("n_dup_ngrams"),
        count(lit(1)).as("n_spans"),
        max("span_tokens").as("max_span_tokens"),
        sum("span_tokens").as("covered_tokens"))
  }

  // ---- X-DUP-SPANS-CUT ------------------------------------------------

  /** X-DUP-SPANS-CUT: the second half of the Lee et al. exact-substring
    * recipe — [[dupSpans]] FINDS the copied passages, this EMITS the
    * cleaned corpus with them excised. Keep-first policy: for each
    * duplicated [[SpanGramN]]-gram hash, the occurrence in the MINIMUM
    * doc_id survives untouched; every other doc's occurrence is a cut
    * position. Per doc, cut positions merge into the same maximal
    * gaps-and-islands intervals as [[dupSpans]] (gap ≤ [[SpanMergeGap]]),
    * and the covered token interval [min_pos, max_pos + N - 1] is removed
    * from the token sequence; the kept tokens reassemble space-joined.
    * Untouched docs pass their original text through BYTE-IDENTICAL —
    * at 100 TB the write path must not rewrite the (vast) clean majority.
    *
    * Scale shape: identical to [[dupSpans]] up to the interval frame
    * (hash-only shuffles, per-doc windows); the cut itself is one
    * broadcast-free equi-join of docs onto their interval arrays (LEFT —
    * clean docs match nothing) plus a per-row higher-order-function
    * filter, so the corpus text is read once and never shuffled.
    */
  def dupSpansCut(spark: SparkSession, sfDir: String): DataFrame = {
    val c = dupSpansCutCorpus(Tables.documents(spark, sfDir))
    c.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("was_cut"), 1L).otherwise(0L)).as("n_docs_cut"),
        sum("n_toks").as("tokens_before"),
        sum("cut_tokens").as("tokens_removed"),
        sum(length(col("clean_text")).cast("long")).as("chars_after"))
      .orderBy("source")
  }

  /** The cleaned corpus itself: one row per input doc with
    * (doc_id, source, clean_text, n_toks, cut_tokens, was_cut).
    * Separated from the per-source accounting rollup so a curation run
    * can write the corpus and the report from one plan, and so the
    * planted-passage spec can check the excision verbatim.
    */
  def dupSpansCutCorpus(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = SpanGramN
    val base = docs.select(col("doc_id"), col("source"), col("text"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val grams = base
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> struct(i AS pos, concat_ws(' ', slice(toks, i, $n)) AS g))")).as("u"))
      .select(col("doc_id"), col("u.pos").cast("long").as("pos"),
        rolling_hash(col("u.g")).as("gh"))
    // duplicated hashes with their keeper: the min-doc_id occurrence
    // survives; the shuffle carries (hash, doc, pos) — never gram text
    val keepers = grams
      .groupBy("gh").agg(countDistinct("doc_id").as("nd"), min("doc_id").as("keeper"))
      .filter(col("nd") >= 2)
      .select("gh", "keeper")
    // one row per (doc, pos) already: each position carries exactly one
    // gram hash and `keepers` is unique per hash, so no distinct needed
    val cutPos = grams.join(keepers, Seq("gh"))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id", "pos")
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val ivs = cutPos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wOrd) > SpanMergeGap, 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("s"), (max("pos") + (n - 1)).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"),
        sum(col("e") - col("s") + 1L).as("cut_tokens"))
    base.join(ivs, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("source"),
        when(col("ivs").isNull, col("text")).otherwise(expr(
          // 1-based token index p kept unless inside any cut interval;
          // merged islands are provably disjoint (gap > SpanMergeGap
          // between them), so `exists` over the tiny per-doc array is
          // the whole membership test
          "concat_ws(' ', filter(transform(toks, (t, i) -> " +
            "struct(t AS t, CAST(i + 1 AS BIGINT) AS p)), " +
            "s -> NOT exists(ivs, v -> s.p >= v.s AND s.p <= v.e)).t)"))
          .as("clean_text"),
        size(col("toks")).cast("long").as("n_toks"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"),
        col("ivs").isNotNull.as("was_cut"))
  }

  // ---- cluster-canonical near-dedup (X-DEDUP-CLUSTER) ------------------

  /** X-DEDUP-CLUSTER: transitive-closure dedup — the rule production
    * near-dedup actually ships (Lee et al. 2022 §4.2; the pairwise rule
    * in [[dedupPipeline]] under-drops). Near-dup candidate pairs at the
    * threshold become edges; connected components give the dup CLUSTERS
    * (A~B and B~C drop both B and C even when (A, C) never collided in a
    * band); the minimum doc_id per component is the canonical survivor.
    * Per-source accounting reports kept/dropped docs and chars plus the
    * delta vs the pairwise rule (`extra_vs_pairwise` — how many docs only
    * transitivity catches), so a curation run can see what closure bought.
    *
    * Scale shape: the edge set is band-bounded (never all-pairs) and the
    * label-propagation loop in [[Graph.connectedComponents]] runs on
    * (id, comp) pairs only — O(log d) rounds, lineage cut per round. The
    * final drop sets join back to `documents` as LEFT ANTI/SEMI on
    * doc_id; document text is scanned once and never shuffled (the
    * per-source rollup shuffles 8-byte keys + counters).
    */
  def dedupCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    dedupClusterCore(docs, componentsTable(spark, sfDir),
      nearDupEdges(spark, sfDir))
  }

  private val compCache = new graft.Memo("dedup.components")

  /** The ≥-threshold near-dup pair graph off the shared banded index. */
  def nearDupEdges(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsTable(spark, sfDir)
      .filter(col("est_jaccard") >= NearDupThreshold)
      .select("id_a", "id_b")

  /** Memoized per (session, sfDir): the pointer-jumping component labels
    * of the near-dup pair graph — [[dedupCluster]] and [[canonical]] both
    * consume them; the iteration runs ONCE and the label table (pair-graph
    * sized, not corpus sized) is cached, the same shared-index discipline
    * as [[signatureTable]] / [[minhashPairsTable]].
    */
  def componentsTable(spark: SparkSession, sfDir: String): DataFrame =
    compCache.getOrBuild(spark, sfDir, cache = true) {
      Graph.connectedComponents(nearDupEdges(spark, sfDir))
    }

  /** X-CANONICAL: quality-aware canonical selection per near-dup cluster —
    * the curation DECISION the cluster view exists to drive: min-doc_id
    * keeper rules (dedupCluster, dedupPipeline) are arbitrary; a real
    * curation run keeps the MOST COMPLETE copy. Representative = the
    * member with the most whitespace tokens, doc_id ascending as the
    * total-order tie-break — both exact integers, so the pick is
    * engine-independent. Output: one row per dup cluster (id = the
    * component's min doc_id) with member count, kept doc, kept/total
    * token mass — singletons are absent by contract (they need no
    * decision). Work beyond the shared banded-pair index + pointer-
    * jumping components: one token count over cluster MEMBERS only
    * (cluster-sized, not corpus-sized) and a per-cluster argmax window.
    */
  def canonical(spark: SparkSession, sfDir: String): DataFrame =
    canonicalOnComps(Tables.documents(spark, sfDir),
      componentsTable(spark, sfDir))

  def canonicalOf(docs: DataFrame, edges: DataFrame): DataFrame =
    canonicalOnComps(docs, Graph.connectedComponents(edges))

  private def canonicalOnComps(docs: DataFrame, comp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val members = comp.join(toks, comp("id") === toks("doc_id"))
      .select(col("comp").as("cluster_id"), col("doc_id"), col("n_tokens"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    members.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        min(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
        min(when(col("rn") === 1, col("n_tokens"))).as("kept_tokens"),
        sum("n_tokens").as("total_tokens"))
      .orderBy("cluster_id")
  }

  /** [[dedupCluster]]'s core on explicit (docs, edges) frames — split out
    * so the transitivity spec can feed a synthetic chain (the fixture's
    * near-dup pairs happen to be isolated at small SF, where closure and
    * the pairwise rule coincide and `extra_vs_pairwise` is 0 everywhere;
    * the chain case is exactly what the operator exists for).
    */
  def dedupClusterOf(docs: DataFrame, edges: DataFrame): DataFrame =
    dedupClusterCore(docs, Graph.connectedComponents(edges), edges)

  private def dedupClusterCore(docs: DataFrame, comp: DataFrame,
      edges: DataFrame): DataFrame = {
    // comp = min doc_id of the component; every non-canonical member drops
    val dropCc = comp
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    // the pairwise rule for comparison: higher id of each colliding pair
    val dropPair = edges.select(col("id_b").as("doc_id")).distinct()
    val flagged = docs
      .join(dropCc.withColumn("cc_drop", lit(1L)), Seq("doc_id"), "left")
      .join(dropPair.withColumn("pw_drop", lit(1L)), Seq("doc_id"), "left")
      .select(
        col("source"), length(col("text")).cast("long").as("nc"),
        coalesce(col("cc_drop"), lit(0L)).as("cc_drop"),
        coalesce(col("pw_drop"), lit(0L)).as("pw_drop"))
    flagged.groupBy("source")
      .agg(
        sum(lit(1L) - col("cc_drop")).as("n_kept"),
        sum((lit(1L) - col("cc_drop")) * col("nc")).as("kept_chars"),
        sum("cc_drop").as("n_dropped"),
        sum(col("cc_drop") * (lit(1L) - col("pw_drop"))).as("extra_vs_pairwise"))
      .orderBy("source")
  }

  /** X-SOFT-DEDUP: duplicate DOWN-WEIGHTING instead of removal — the
    * soft alternative to the hard keep/drop rule (recent curation
    * recipes reweight duplicated documents by 1/cluster-size so the
    * duplicated CONTENT keeps exactly one document's worth of expected
    * training mass, instead of betting everything on which copy the
    * keeper rule happened to pick). Every member of a near-dup cluster
    * of size s gets sampling weight 1/s (exact integer ppm — 10^6 div
    * s); singletons keep weight 1. Per source the report carries raw
    * vs EFFECTIVE mass (Σ weight, Σ weight·tokens, both in exact ppm
    * units) and how many docs were touched — the table that says how
    * much training-mass the soft rule preserves where hard dedup
    * (x_dedup_cluster) deletes outright.
    *
    * Scale shape: reuses the memoized banded pair table and
    * pointer-jumping component labels ([[componentsTable]] — the
    * closure runs ONCE across all three cluster consumers); cluster
    * sizes are a pair-graph-sized agg broadcast back onto the corpus,
    * so documents are scanned once, shuffle only the per-source
    * counters.
    */
  def softDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = componentsTable(spark, sfDir)
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("csize"))
    val memberSize = comp.join(sizes, Seq("comp"))
      .select(col("id").as("doc_id"), col("csize"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(broadcast(memberSize), Seq("doc_id"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(when(col("csize") > 1L, 1L).otherwise(0L)).as("n_dup_members"),
        sum(expr("1000000 div csize")).as("eff_docs_ppm"),
        sum(expr("n_tokens * 1000000 div csize")).as("eff_tokens_ppm"))
      .orderBy("source")
  }
}
