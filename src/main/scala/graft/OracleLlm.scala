package graft

import graft.functions.{MinHashSig, PolyHashing, SimHash}
import graft.llm.{Dedup, TextAnalysis}

/** DuckDB oracle SQL for the signature-based X-* queries.
  *
  * Everything the dedup/similarity family computes is poly-hash
  * arithmetic mod 2^31-1 over Unicode codepoints (see PolyHash.scala), so
  * the oracle re-derives shingle hashes, MinHash signatures, band keys,
  * SimHash fingerprints and similarity estimates EXACTLY in SQL — the
  * driver's hash-compare gate covers the whole family, not rows-only.
  * The fixed permutation coefficients are interpolated from the same
  * Scala arrays the kernels use ([[MinHashSig.aCoef]]/[[MinHashSig.bCoef]]),
  * so the two sides cannot drift independently.
  *
  * The generated SQL leans on DuckDB list lambdas (list_transform /
  * list_reduce / list_filter) — at the oracle's sf0.01 scale (500 docs ×
  * ~300 chars) that is a few tens of millions of scalar ops, well within
  * the driver's budget.
  */
object OracleLlm {

  private val M = PolyHashing.Mod // 2147483647

  private def longList(xs: Array[Long]): String = xs.mkString("[", ", ", "]")

  /** Codepoint list of a string expression (1-based chars; `v` names the
    * lambda variable to avoid shadowing when nested).
    */
  private def cps(expr: String, v: String = "ci"): String =
    s"list_transform(range(1, length($expr) + 1), $v -> CAST(unicode(substr($expr, CAST($v AS INT), 1)) AS BIGINT))"

  /** Public mirror of the 31-bit poly hash for oracles outside this
    * object (q_dsv2_fn's V2 catalog function).
    */
  def polyHashSql(expr: String, base: Long): String = polyHash(expr, base)

  /** 31-bit polynomial codepoint hash of a string expression. */
  private def polyHash(expr: String, base: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), ${cps(expr)}), (pa2, pb2) -> (pa2 * $base + pb2) % $M)"

  private val k = Dedup.ShingleK

  /** Shared CTE chain `hs` → `perm` → `sig`: per-doc distinct 8-gram
    * poly-hashes, then the 64-slot MinHash signature with the kernel's
    * exact permutation constants.
    */
  private val sigCtes: String =
    s"""hs AS (
       |  SELECT doc_id, source, list_distinct(list_transform(range(1, length(text) - ${k - 2}),
       |    wi -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $k),
       |            wj -> CAST(unicode(substr(text, CAST(wi + wj AS INT), 1)) AS BIGINT))),
       |          (ac, cb) -> (ac * 131 + cb) % $M))) AS hs
       |  FROM documents),
       |perm AS (SELECT ${longList(MinHashSig.aCoef)} AS pa, ${longList(MinHashSig.bCoef)} AS pb),
       |sig AS (
       |  SELECT doc_id, source, list_transform(range(0, ${MinHashSig.NumHashes}),
       |    i -> list_min(list_transform(hs,
       |           h -> (pa[CAST(i + 1 AS INT)] * h + pb[CAST(i + 1 AS INT)]) % $M))) AS sig
       |  FROM hs, perm WHERE len(hs) > 0)""".stripMargin

  /** CTE chain `bands` → `cand` → `mh`: 16 banded keys per signature
    * (polynomial fold of 4 slots), same-key self-join for candidates,
    * slot-agreement Jaccard estimate.
    */
  private val pairCtes: String =
    s"""bands AS (
       |  SELECT doc_id, bb.band AS band,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             sig[CAST(bb.band * ${Dedup.RowsPerBand} + 1 AS INT):CAST(bb.band * ${Dedup.RowsPerBand} + ${Dedup.RowsPerBand} AS INT)]),
       |           (ac, x) -> (ac * 1000003 + x) % $M) AS bkey
       |  FROM sig, (SELECT unnest(range(0, ${Dedup.NumBands})) AS band) bb),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
       |mh AS (
       |  SELECT id_a, id_b,
       |         CAST(len(list_filter(range(1, ${MinHashSig.NumHashes + 1}),
       |             i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE)
       |           / ${MinHashSig.NumHashes} AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
       |            JOIN sig sb ON sb.doc_id = cand.id_b)""".stripMargin

  val minhashPairsSql: String =
    s"""WITH $sigCtes, $pairCtes
       |SELECT id_a, id_b, est_jaccard FROM mh ORDER BY id_a, id_b""".stripMargin

  /** dedupIncremental mirror: the FULL pair formulation restricted to
    * pairs touching the delta — the incremental shortcut must equal it.
    */
  val dedupIncrSql: String =
    s"""WITH $sigCtes, $pairCtes
       |SELECT id_a, id_b, est_jaccard FROM mh
       |WHERE id_a % 10 = 0 OR id_b % 10 = 0
       |ORDER BY id_a, id_b""".stripMargin

  /** contrastivePairs mirror: the same banded pair formulation,
    * symmetrized, with per-anchor (max est, min partner) struct argmax
    * on both sides of the threshold — positive ≥ T, hard negative < T —
    * and the inner join keeping only complete triplets.
    */
  val contrastiveSql: String = {
    val t = Dedup.NearDupThreshold
    def best(idName: String, jacName: String, cond: String): String =
      s"""SELECT anchor,
         |  CAST(-(max({'e': est_jaccard, 'np': -partner})).np AS BIGINT) AS $idName,
         |  (max({'e': est_jaccard, 'np': -partner})).e AS $jacName
         |FROM sym WHERE $cond GROUP BY anchor""".stripMargin
    s"""WITH $sigCtes, $pairCtes,
       |sym AS (SELECT id_a AS anchor, id_b AS partner, est_jaccard FROM mh
       |        UNION ALL SELECT id_b, id_a, est_jaccard FROM mh),
       |pos AS (${best("pos_id", "pos_jac", s"est_jaccard >= $t")}),
       |neg AS (${best("neg_id", "neg_jac", s"est_jaccard < $t")})
       |SELECT p.anchor AS anchor, p.pos_id AS pos_id, p.pos_jac AS pos_jac,
       |       n.neg_id AS neg_id, n.neg_jac AS neg_jac
       |FROM pos p JOIN neg n ON p.anchor = n.anchor
       |ORDER BY anchor""".stripMargin
  }

  val sourceSimSql: String =
    s"""WITH $sigCtes,
       |ex AS (SELECT source, unnest(sig) AS s, unnest(range(1, ${MinHashSig.NumHashes + 1})) AS i FROM sig),
       |mslot AS (SELECT source, i, min(s) AS m FROM ex GROUP BY 1, 2),
       |msig AS (SELECT source, list(m ORDER BY i) AS msig FROM mslot GROUP BY source)
       |SELECT a.source AS src_a, b.source AS src_b,
       |       CAST(len(list_filter(range(1, ${MinHashSig.NumHashes + 1}),
       |           i -> a.msig[CAST(i AS INT)] = b.msig[CAST(i AS INT)])) AS DOUBLE)
       |         / ${MinHashSig.NumHashes} AS est_jaccard
       |FROM msig a JOIN msig b ON a.source < b.source
       |ORDER BY src_a, src_b""".stripMargin

  val dedupPipelineSql: String =
    s"""WITH $sigCtes, $pairCtes,
       |ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |dn AS (SELECT DISTINCT id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |surv AS (
       |  SELECT d.source, d.text FROM documents d
       |  JOIN ek ON d.doc_id = ek.doc_id
       |  WHERE d.doc_id NOT IN (SELECT id_b FROM dn))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(length(text)) AS BIGINT) AS kept_chars
       |FROM surv GROUP BY source ORDER BY source""".stripMargin

  val simhashPairsSql: String = {
    val bits = SimHash.Bits
    val bandBits = Dedup.SimBandBits
    val mask = (1L << bandBits) - 1
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |         list_transform(toks, t -> ${polyHash("t", SimHash.BaseLo)}) AS h1s,
       |         list_transform(toks, t -> ${polyHash("t", SimHash.BaseHi)}) AS h2s
       |  FROM tok),
       |fp AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, $bits), d ->
       |    CASE WHEN (CASE WHEN d < 30
       |      THEN list_sum(list_transform(h1s, h -> CASE WHEN ((h >> CAST(d AS INT)) & 1) = 1 THEN 1 ELSE -1 END))
       |      ELSE list_sum(list_transform(h2s, h -> CASE WHEN ((h >> CAST(d - 30 AS INT)) & 1) = 1 THEN 1 ELSE -1 END))
       |      END) > 0
       |    THEN (CAST(1 AS BIGINT) << CAST(d AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
       |  FROM th),
       |sb AS (
       |  SELECT doc_id, fp, bb.band AS band,
       |         (fp >> CAST(bb.band * $bandBits AS INT)) & $mask AS bkey
       |  FROM fp, (SELECT unnest(range(0, ${Dedup.SimBands})) AS band) bb),
       |pr AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |         CAST(bit_count(xor(l.fp, r.fp)) AS BIGINT) AS hamming
       |  FROM sb l JOIN sb r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
       |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= ${Dedup.SimHammingMax}
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** 64-bit wrapping poly hash (RollingHash mirror): HUGEINT mod 2^64. */
  private def hash64u(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |  list_transform(range(1, length($expr) + 1),
       |    ci -> CAST(unicode(substr($expr, CAST(ci AS INT), 1)) AS HUGEINT))),
       |  (ac, cb) -> (ac * 31 + cb) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** Re-sign a [0, 2^64) HUGEINT into the BIGINT the long kernel wraps to. */
  private def signed64(expr: String): String =
    s"""CAST(CASE WHEN $expr >= CAST('9223372036854775808' AS HUGEINT)
       |  THEN $expr - CAST('18446744073709551616' AS HUGEINT)
       |  ELSE $expr END AS BIGINT)""".stripMargin

  val fingerprintSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, ${hash64u("lower(text)")} AS h1, ${hash64u("text")} AS h2
       |  FROM documents)
       |SELECT doc_id, ${signed64("h1")} AS fp, ${signed64("h2")} AS fp_cased
       |FROM f ORDER BY doc_id""".stripMargin

  /** X-HASH-FEATURES mirror: bigrams → poly-hash bucket + independent
    * sign hash + the 64-bit gram identity (the same rolling-hash kernel
    * the Spark side groups distincts on — grouping the oracle on the raw
    * gram string would diverge on a 64-bit collision).
    */
  val hashFeaturesSql: String = {
    val d = llm.TextAnalysis.HashFeatDims
    s"""WITH tk AS (
       |  SELECT source,
       |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT source, unnest(list_transform(range(1, len(toks)),
       |    gi -> toks[CAST(gi AS INT)] || ' ' || toks[CAST(gi + 1 AS INT)])) AS g
       |  FROM tk WHERE len(toks) >= 2),
       |h AS (
       |  SELECT source,
       |         ${polyHash("g", 131)} % $d AS bucket,
       |         (${polyHash("g", 137)} % 2) * 2 - 1 AS sign,
       |         ${hash64u("g")} AS g64
       |  FROM g),
       |dd AS (
       |  SELECT source, bucket, g64,
       |         CAST(count(*) AS BIGINT) AS n, CAST(sum(sign) AS BIGINT) AS s
       |  FROM h GROUP BY 1, 2, 3)
       |SELECT source, CAST(bucket AS BIGINT) AS bucket,
       |       CAST(sum(n) AS BIGINT) AS n_grams,
       |       CAST(sum(s) AS BIGINT) AS signed_sum,
       |       CAST(count(*) AS BIGINT) AS n_distinct_grams
       |FROM dd GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin
  }

  /** Whitespace token count of a text expression (x_text_stats mirror). */
  private def wsTokens(expr: String): String =
    s"CAST(len(list_filter(regexp_split_to_array($expr, '\\s+'), wt -> wt <> '')) AS BIGINT)"

  /** Shared CTE for the sampling family: per-doc signed 64-bit content
    * hash (RollingHash mirror) + whitespace token count.
    */
  private val sampleCte: String = {
    val h = hash64u("text")
    s"""sf AS (
       |  SELECT source, doc_id, ${signed64(h)} AS fp, ${wsTokens("text")} AS n_tokens
       |  FROM documents)""".stripMargin
  }

  /** interleave mirror: same content-hash per-source rank, alphabetical
    * dense-rank weights, one division per priority.
    */
  val interleaveSql: String =
    s"""WITH $sampleCte,
       |w AS (SELECT source,
       |             CAST(dense_rank() OVER (ORDER BY source) AS DOUBLE) AS wt
       |      FROM (SELECT DISTINCT source FROM documents)),
       |r AS (SELECT source, doc_id,
       |             CAST(row_number() OVER (PARTITION BY source
       |               ORDER BY fp, doc_id) AS BIGINT) AS rank_in_source
       |      FROM sf),
       |p AS (SELECT r.source, r.doc_id, r.rank_in_source,
       |             CAST(r.rank_in_source AS DOUBLE) / w.wt AS priority
       |      FROM r JOIN w USING (source))
       |SELECT source, doc_id, rank_in_source, priority
       |FROM p ORDER BY priority, source, doc_id
       |LIMIT ${llm.Sampling.InterleaveN}""".stripMargin

  /** decontamination mirror: minhash near-dup pairs (sig/band CTEs)
    * joined to the content-hash split assignment, cross-split only.
    */
  val decontamSql: String =
    s"""WITH $sigCtes, $pairCtes, $sampleCte,
       |sp AS (
       |  SELECT doc_id,
       |         CASE WHEN ((fp % ${llm.Sampling.SplitBuckets}) + ${llm.Sampling.SplitBuckets}) % ${llm.Sampling.SplitBuckets} <= 7 THEN 'train'
       |              WHEN ((fp % ${llm.Sampling.SplitBuckets}) + ${llm.Sampling.SplitBuckets}) % ${llm.Sampling.SplitBuckets} = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM sf)
       |SELECT id_a, sa.split AS split_a, id_b, sb.split AS split_b, est_jaccard
       |FROM mh
       |JOIN sp sa ON sa.doc_id = mh.id_a
       |JOIN sp sb ON sb.doc_id = mh.id_b
       |WHERE est_jaccard >= ${llm.Dedup.NearDupThreshold} AND sa.split <> sb.split
       |ORDER BY id_a, id_b""".stripMargin

  /** cleanSplit mirror: the decontam machinery turned into the eviction
    * itself — near-dup partners of test docs dropped from train/val,
    * with the same per-(source, split) accounting as splitSql plus the
    * eviction columns.
    */
  val cleanSplitSql: String = {
    val B = llm.Sampling.SplitBuckets
    s"""WITH $sigCtes, $pairCtes, $sampleCte,
       |sp AS (
       |  SELECT doc_id, source, n_tokens,
       |         CASE WHEN ((fp % $B) + $B) % $B <= 7 THEN 'train'
       |              WHEN ((fp % $B) + $B) % $B = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM sf),
       |nd AS (SELECT id_a, id_b FROM mh
       |       WHERE est_jaccard >= ${llm.Dedup.NearDupThreshold}),
       |sym AS (SELECT id_a AS a, id_b AS b FROM nd
       |        UNION ALL SELECT id_b, id_a FROM nd),
       |evict AS (
       |  SELECT DISTINCT sym.a AS doc_id
       |  FROM sym
       |  JOIN sp t ON t.doc_id = sym.b AND t.split = 'test'
       |  JOIN sp s ON s.doc_id = sym.a AND s.split <> 'test'),
       |m AS (
       |  SELECT sp.source, sp.split, sp.doc_id, sp.n_tokens,
       |         (e.doc_id IS NOT NULL) AS evicted
       |  FROM sp LEFT JOIN evict e ON e.doc_id = sp.doc_id)
       |SELECT source, split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |       CAST(sum(CASE WHEN evicted THEN 1 ELSE 0 END) AS BIGINT) AS n_evicted,
       |       CAST(sum(CASE WHEN evicted THEN n_tokens ELSE 0 END) AS BIGINT) AS evicted_tokens,
       |       CAST(sum(CASE WHEN evicted THEN doc_id ELSE 0 END) AS BIGINT) AS evicted_ids_sum
       |FROM m GROUP BY source, split ORDER BY source, split""".stripMargin
  }

  val splitSql: String =
    s"""WITH $sampleCte,
       |b AS (SELECT source, n_tokens, ((fp % ${llm.Sampling.SplitBuckets}) + ${llm.Sampling.SplitBuckets}) % ${llm.Sampling.SplitBuckets} AS b FROM sf),
       |s AS (
       |  SELECT source, n_tokens,
       |         CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM b)
       |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens
       |FROM s GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  /** bpe mirror: the identical merge loop unrolled into CTEs — same
    * word-type table, same pair counting, same (count desc, pair asc)
    * argmax, and the merge applied with the SAME replace-to-fixpoint
    * string procedure ([[llm.TextAnalysis.BpeReplaceDepth]]), so every
    * round's decision and the merged corpus agree bit-for-bit.
    */
  /** Shared CTE chain for the BPE mirrors: word-type table (with the
    * word carried through every round) + k rounds of pair-count /
    * argmax / fixpoint-replace.
    */
  private val bpeCtes: String = {
    val k = llm.TextAnalysis.BpeMergeCount
    def fused(i: Int): String =
      (1 to llm.TextAnalysis.BpeReplaceDepth).foldLeft("seq") { case (acc, _) =>
        s"replace($acc, ' ' || b$i.l || ' ' || b$i.r || ' ', ' ' || b$i.l || b$i.r || ' ')"
      }
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT l, r, CAST(sum(c) AS BIGINT) AS pc FROM (
         |    SELECT c, ts[CAST(j AS INT)] AS l, ts[CAST(j + 1 AS INT)] AS r FROM (
         |      SELECT c, ts, unnest(range(1, len(ts))) AS j FROM (
         |        SELECT c, regexp_split_to_array(trim(seq), ' ') AS ts FROM w${i - 1})))
         |  GROUP BY l, r),
         |b$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |w$i AS (SELECT w, ${fused(i)} AS seq, c FROM w${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w
       |  FROM documents),
       |w0 AS (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY w),
       |$rounds""".stripMargin
  }

  val bpeSql: String = {
    val k = llm.TextAnalysis.BpeMergeCount
    val out = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, pc AS pair_count FROM b$i")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeCtes
       |SELECT * FROM ($out) ORDER BY merge_rank""".stripMargin
  }

  /** bpeApply mirror: the final round's word → sequence map joined back
    * to the per-doc token stream; fertility is the same single division.
    */
  val bpeApplySql: String = {
    val k = llm.TextAnalysis.BpeMergeCount
    s"""WITH $bpeCtes,
       |map AS (
       |  SELECT w, CAST(len(regexp_split_to_array(trim(seq), ' ')) AS BIGINT) AS syms
       |  FROM w$k),
       |tok AS (
       |  SELECT source,
       |         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w
       |  FROM documents)
       |SELECT tok.source, CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(length(tok.w)) AS BIGINT) AS n_chars,
       |       CAST(sum(map.syms) AS BIGINT) AS n_symbols,
       |       CAST(sum(map.syms) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       |FROM tok JOIN map USING (w)
       |GROUP BY tok.source ORDER BY tok.source""".stripMargin
  }

  /** decontam-ngram mirror: same content-hash split, same distinct
    * 8-gram explode, flagged train docs via IN against the test grams.
    */
  val decontamNgramSql: String = {
    val n = llm.Sampling.DecontamGramN
    val b = llm.Sampling.SplitBuckets
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         ((${signed64(hash64u("text"))} % $b) + $b) % $b AS b,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT source, doc_id, b,
       |         unnest(list_distinct(list_transform(range(1, len(toks) - $n + 2),
       |           i -> array_to_string(toks[CAST(i AS INT):CAST(i + $n - 1 AS INT)], ' ')))) AS gm
       |  FROM d WHERE len(toks) >= $n),
       |tg AS (SELECT DISTINCT gm FROM g WHERE b = 9),
       |fl AS (SELECT DISTINCT source, doc_id FROM g
       |       WHERE b <= 7 AND gm IN (SELECT gm FROM tg)),
       |tr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_train
       |       FROM d WHERE b <= 7 GROUP BY source),
       |fc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_flagged FROM fl GROUP BY source)
       |SELECT tr.source, tr.n_train,
       |       CAST(coalesce(fc.n_flagged, 0) AS BIGINT) AS n_flagged,
       |       CAST(coalesce(fc.n_flagged, 0) AS DOUBLE)
       |         / CAST(tr.n_train AS DOUBLE) AS flag_rate
       |FROM tr LEFT JOIN fc USING (source) ORDER BY tr.source""".stripMargin
  }

  /** gini mirror: exact DECIMAL(38,0) squares, final IEEE divisions. */
  val giniSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |         unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
       |  FROM documents),
       |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
       |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |             CAST(count(*) AS BIGINT) AS vocab,
       |             CAST(max(c) AS BIGINT) AS max_c,
       |             sum(CAST(c AS DECIMAL(38, 0)) * c) AS sumsq
       |      FROM c GROUP BY source)
       |SELECT source, n_tokens, vocab,
       |       CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_share,
       |       CAST(CAST(n_tokens AS DECIMAL(38, 0)) * n_tokens - sumsq AS DOUBLE)
       |         / CAST(CAST(n_tokens AS DECIMAL(38, 0)) * n_tokens AS DOUBLE) AS gini
       |FROM s ORDER BY source""".stripMargin

  /** equidepth mirror: same unique (cents, event_id) tiling order. */
  val equidepthSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |         CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT) AS cents, event_id
       |  FROM events WHERE value IS NOT NULL),
       |b AS (SELECT event_type, cents,
       |             CAST(ntile(4) OVER (PARTITION BY event_type
       |               ORDER BY cents, event_id) AS BIGINT) AS bin
       |      FROM e)
       |SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
       |       CAST(min(cents) AS BIGINT) AS lo_cents,
       |       CAST(max(cents) AS BIGINT) AS hi_cents
       |FROM b GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  /** embedDrift mirror: same vec_id-parity cohorts, the exact
    * floor(x·1024) quantized domain, integer cross-multiplied moment
    * drift; mean_shift and disp_sq are the same fixed IEEE expressions.
    */
  val embedDriftSql: String =
    """WITH qd AS (
      |  SELECT vec_id % 2 AS cohort, i - 1 AS dim,
      |         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1024) AS BIGINT) AS q
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
      |a AS (
      |  SELECT dim,
      |         CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |         CAST(coalesce(sum(CASE WHEN cohort = 0 THEN q END), 0) AS BIGINT) AS sum_a,
      |         CAST(coalesce(sum(CASE WHEN cohort = 1 THEN q END), 0) AS BIGINT) AS sum_b,
      |         CAST(coalesce(sum(CASE WHEN cohort = 0 THEN q * q END), 0) AS BIGINT) AS ss_a,
      |         CAST(coalesce(sum(CASE WHEN cohort = 1 THEN q * q END), 0) AS BIGINT) AS ss_b
      |  FROM qd GROUP BY 1)
      |SELECT CAST(dim AS BIGINT) AS dim, n_a, n_b, sum_a, sum_b,
      |       abs(sum_a * n_b - sum_b * n_a) AS d_mean_scaled,
      |       abs(ss_a * n_b - ss_b * n_a) AS d_m2_scaled,
      |       CAST(abs(sum_a * n_b - sum_b * n_a) AS DOUBLE)
      |         / CAST(n_a * n_b AS DOUBLE) AS mean_shift,
      |       (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |         * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS disp_sq
      |FROM a WHERE n_a > 0 AND n_b > 0 ORDER BY dim""".stripMargin

  /** drift mirror: same day-parity cohorts, integer CDF cross products,
    * one division.
    */
  val driftSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |         CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT) AS cents,
       |         (CAST(ts AS DATE) - DATE '1970-01-01') % 2 AS cohort
       |  FROM events WHERE value IS NOT NULL),
       |pv AS (SELECT event_type, cents,
       |              CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |              CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |       FROM e GROUP BY 1, 2),
       |r AS (SELECT event_type, ca, cb,
       |             sum(ca) OVER (PARTITION BY event_type ORDER BY cents
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
       |             sum(cb) OVER (PARTITION BY event_type ORDER BY cents
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb,
       |             sum(ca) OVER (PARTITION BY event_type) AS na,
       |             sum(cb) OVER (PARTITION BY event_type) AS nb
       |      FROM pv)
       |SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
       |       CAST(max(nb) AS BIGINT) AS n_b,
       |       CAST(max(abs(fa * nb - fb * na)) AS BIGINT) AS d_scaled,
       |       CAST(max(abs(fa * nb - fb * na)) AS DOUBLE)
       |         / CAST(max(na) * max(nb) AS DOUBLE) AS ks
       |FROM r WHERE na > 0 AND nb > 0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** dsir mirror: same pmod-100 hash bucket, per-source rate from the
    * source suffix, whole copies + fractional slice in exact integers.
    */
  val dsirSql: String =
    s"""WITH $sampleCte,
       |p AS (
       |  SELECT source, n_tokens, ((fp % 100) + 100) % 100 AS b,
       |         (CAST(substr(source, 4) AS BIGINT) % 5) * 60 AS pct
       |  FROM sf),
       |c AS (
       |  SELECT source, n_tokens,
       |         pct // 100 + CASE WHEN b < pct % 100 THEN 1 ELSE 0 END AS copies
       |  FROM p)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(copies) AS BIGINT) AS n_sampled,
       |       CAST(sum(copies * n_tokens) AS BIGINT) AS sampled_tokens
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** mixture mirror: exact integer token counts, ONE division per source. */
  val mixtureSql: String =
    s"""WITH $sampleCte,
       |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(n_tokens) AS BIGINT) AS tokens
       |       FROM sf GROUP BY source),
       |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM ps)
       |SELECT source, n_docs, tokens,
       |       CAST((CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 2 AS BIGINT) AS target_pct,
       |       CAST((CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 2 * total_tokens AS DOUBLE)
       |         / CAST(tokens * 100 AS DOUBLE) AS weight
       |FROM ps, t ORDER BY source""".stripMargin

  /** bloomFpr mirror: the same k poly-hashes → bit positions → 32-bit
    * words → bit_or fold, probe of the disjoint set, integer-ppm FPR.
    */
  val bloomFprSql: String = {
    val m = llm.Events.BloomBits; val wb = llm.Events.BloomWordBits
    def hitsOf(src: String): String =
      llm.Events.BloomBases.map(b =>
        s"SELECT user_id, ${polyHash("CAST(user_id AS VARCHAR)", b)} % $m AS h FROM $src")
        .mkString("\n       UNION ALL ")
    s"""WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE user_id % 2 = 0),
       |others AS (SELECT DISTINCT user_id FROM events WHERE user_id % 2 = 1),
       |bbits AS (${hitsOf("buyers")}),
       |words AS (SELECT h // $wb AS w,
       |                 bit_or(CAST(1 AS BIGINT) << CAST(h % $wb AS INT)) AS word
       |          FROM bbits GROUP BY 1),
       |stats AS (SELECT CAST(sum(bit_count(word)) AS BIGINT) AS n_set_bits FROM words),
       |obits AS (${hitsOf("others")}),
       |probe AS (
       |  SELECT o.user_id,
       |         CASE WHEN (coalesce(w.word, 0) & (CAST(1 AS BIGINT) << CAST(o.h % $wb AS INT))) <> 0
       |              THEN 1 ELSE 0 END AS hit
       |  FROM obits o LEFT JOIN words w ON w.w = o.h // $wb),
       |per AS (SELECT user_id, min(hit) AS all_set FROM probe GROUP BY user_id),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |               CAST(sum(all_set) AS BIGINT) AS n_fp FROM per),
       |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM buyers)
       |SELECT CAST($m AS BIGINT) AS m_bits, ni.n_inserted, stats.n_set_bits,
       |       agg.n_probes, agg.n_fp,
       |       CAST(agg.n_fp * 1000000 // agg.n_probes AS BIGINT) AS fpr_ppm,
       |       CAST(stats.n_set_bits * 1000000 // $m AS BIGINT) AS load_ppm
       |FROM agg, ni, stats""".stripMargin
  }

  /** marginalCoverage mirror: first owner = min(source) per shingle hash. */
  val marginalCoverageSql: String =
    s"""WITH $sigCtes,
       |sh AS (SELECT DISTINCT source, unnest(hs) AS h FROM hs),
       |fo AS (SELECT source, CAST(count(*) AS BIGINT) AS n_new FROM (
       |         SELECT h, min(source) AS source FROM sh GROUP BY h) GROUP BY source),
       |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY source)
       |SELECT tot.source, tot.n_shingles,
       |       CAST(coalesce(fo.n_new, 0) AS BIGINT) AS n_new,
       |       CAST(coalesce(fo.n_new, 0) * 1000000 // tot.n_shingles AS BIGINT) AS new_share_ppm
       |FROM tot LEFT JOIN fo USING (source) ORDER BY source""".stripMargin

  /** lshCurve mirror: the S-curve float chain as EXPLICIT multiplication
    * steps (one IEEE op per CTE column — no pow()), measured buckets off
    * the shared banded pair estimates.
    */
  val lshCurveSql: String =
    s"""WITH $sigCtes, $pairCtes,
       |grid AS (SELECT CAST(unnest(range(0, 20)) * 5 AS BIGINT) AS s_pct),
       |g1 AS (SELECT s_pct, CAST(s_pct AS DOUBLE) / 100.0 AS s FROM grid),
       |g2 AS (SELECT s_pct, s * s * s * s AS s4 FROM g1),
       |g3 AS (SELECT s_pct, 1.0 - s4 AS q FROM g2),
       |g4 AS (SELECT s_pct, q * q AS q2 FROM g3),
       |g5 AS (SELECT s_pct, q2 * q2 AS q4 FROM g4),
       |g6 AS (SELECT s_pct, q4 * q4 AS q8 FROM g5),
       |g7 AS (SELECT s_pct, q8 * q8 AS q16 FROM g6),
       |th AS (SELECT s_pct, 1.0 - q16 AS p_cand_theory FROM g7),
       |ms AS (SELECT CAST(least(floor(est_jaccard * 20.0), 19.0) AS BIGINT) * 5 AS s_pct,
       |              CAST(count(*) AS BIGINT) AS n_pairs FROM mh GROUP BY 1)
       |SELECT th.s_pct, th.p_cand_theory,
       |       CAST(coalesce(ms.n_pairs, 0) AS BIGINT) AS n_pairs
       |FROM th LEFT JOIN ms USING (s_pct) ORDER BY s_pct""".stripMargin

  /** streamingKmv mirror: the k smallest distinct hashes per type — an
    * order statistic of a SET is micro-batching-independent, so the
    * streamed sketch must equal this exactly. The estimator is the
    * sketch's saturation-blind branch (k_used < K ⇒ exact).
    */
  val streamKmvSql: String = {
    val k = llm.Events.KmvK
    s"""WITH uh AS (
       |  SELECT DISTINCT event_type,
       |         ${polyHash("CAST(user_id AS VARCHAR)", llm.Events.KmvBase)} AS h
       |  FROM events),
       |r AS (SELECT event_type, h,
       |             CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS rn
       |      FROM uh),
       |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_used,
       |             CAST(max(h) AS BIGINT) AS kth_hash
       |      FROM r WHERE rn <= $k GROUP BY event_type)
       |SELECT event_type, k_used, kth_hash,
       |       CASE WHEN k_used < $k THEN CAST(k_used AS DOUBLE)
       |            ELSE CAST(${(k - 1).toLong * PolyHashing.Mod} AS DOUBLE)
       |              / CAST(kth_hash AS DOUBLE) END AS est_distinct
       |FROM s ORDER BY event_type""".stripMargin
  }

  /** containment mirror: banded candidates UNION the asymmetric
    * rare-anchor source (k smallest hashes among each doc's df-capped
    * RARE shingles, joined on the rare posting list), exact shingle-set
    * intersection, integer-ppm directions.
    */
  val containmentSql: String =
    s"""WITH $sigCtes, $pairCtes,
       |post AS (SELECT doc_id AS id_o, unnest(hs) AS h FROM hs),
       |kepth AS (SELECT h FROM post GROUP BY h
       |          HAVING count(*) <= ${Dedup.ContainDfCap}),
       |rpost AS (SELECT id_o, h FROM post JOIN kepth USING (h)),
       |anch AS (SELECT id_o AS id_s, h FROM (
       |           SELECT id_o, h,
       |                  row_number() OVER (PARTITION BY id_o ORDER BY h) AS rn
       |           FROM rpost) WHERE rn <= ${Dedup.ContainAnchorK}),
       |asym AS (SELECT DISTINCT least(id_s, id_o) AS id_a,
       |                greatest(id_s, id_o) AS id_b
       |         FROM anch JOIN rpost USING (h)
       |         WHERE id_s <> id_o),
       |call AS (SELECT id_a, id_b FROM cand
       |         UNION SELECT id_a, id_b FROM asym)
       |SELECT c.id_a, c.id_b,
       |       CAST(len(ha.hs) AS BIGINT) AS n_a,
       |       CAST(len(hb.hs) AS BIGINT) AS n_b,
       |       CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS n_common,
       |       CAST(len(list_intersect(ha.hs, hb.hs)) * 1000000 // len(ha.hs) AS BIGINT) AS cont_a_ppm,
       |       CAST(len(list_intersect(ha.hs, hb.hs)) * 1000000 // len(hb.hs) AS BIGINT) AS cont_b_ppm
       |FROM call c
       |JOIN hs ha ON ha.doc_id = c.id_a
       |JOIN hs hb ON hb.doc_id = c.id_b
       |ORDER BY c.id_a, c.id_b""".stripMargin

  /** payloadNearDup mirror: the byte-shingle family re-derived from the
    * text (the fixture payload is the UTF-8 encoding of single-byte
    * chars, so codepoints ARE the bytes) — strided window hashes, the
    * 64-slot MinHash with the kernel's permutation constants, the same
    * 16×4 band fold and equi-join, exact Jaccard verify, per-doc argmax
    * manifest.
    */
  /** Shared byte-shingle pair chain `bhs`→`bver` — consumed by
    * [[mmNearDupSql]] (per-doc manifest) and [[mmClusterSql]]
    * (transitive-closure groups).
    */
  private lazy val mmPairCtes: String = {
    val kk = llm.Multimodal.NearDupK
    val st = llm.Multimodal.NearDupStride
    s"""bhs AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - ${kk - 2}, $st),
       |    wi -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $kk),
       |            wj -> CAST(unicode(substr(text, CAST(wi + wj AS INT), 1)) AS BIGINT))),
       |          (ac, cb) -> (ac * 131 + cb) % $M))) AS hs
       |  FROM documents),
       |bh AS (SELECT doc_id, hs FROM bhs WHERE len(hs) > 0),
       |bperm AS (SELECT ${longList(MinHashSig.aCoef)} AS pa, ${longList(MinHashSig.bCoef)} AS pb),
       |bsig AS (
       |  SELECT doc_id, list_transform(range(0, ${MinHashSig.NumHashes}),
       |    i -> list_min(list_transform(hs,
       |           h -> (pa[CAST(i + 1 AS INT)] * h + pb[CAST(i + 1 AS INT)]) % $M))) AS sig
       |  FROM bh, bperm),
       |bbands AS (
       |  SELECT doc_id, bb.band AS band,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             sig[CAST(bb.band * ${Dedup.RowsPerBand} + 1 AS INT):CAST(bb.band * ${Dedup.RowsPerBand} + ${Dedup.RowsPerBand} AS INT)]),
       |           (ac, x) -> (ac * 1000003 + x) % $M) AS bkey
       |  FROM bsig, (SELECT unnest(range(0, ${Dedup.NumBands})) AS band) bb),
       |bcand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM bbands l JOIN bbands r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
       |bver AS (
       |  SELECT id_a, id_b,
       |         CAST(len(list_intersect(ha.hs, hb.hs)) * 1000000
       |           // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS BIGINT) AS jac_ppm
       |  FROM bcand JOIN bh ha ON ha.doc_id = bcand.id_a
       |             JOIN bh hb ON hb.doc_id = bcand.id_b)""".stripMargin
  }

  /** payloadNearDup mirror: per-doc argmax manifest over the shared
    * byte-shingle pair chain.
    */
  val mmNearDupSql: String = {
    val ppm = llm.Multimodal.NearDupPpm
    s"""WITH $mmPairCtes,
       |sym AS (SELECT id_a AS doc_id, id_b AS partner, jac_ppm FROM bver
       |        UNION ALL SELECT id_b, id_a, jac_ppm FROM bver),
       |best AS (
       |  -- explicit two-key argmax: max over the named struct (jac_ppm,
       |  -- -partner) is the EXACT mirror of Spark's max(struct(jac_ppm,
       |  -- -partner)); a single composite BIGINT key (jac*1e10 - partner)
       |  -- would misorder once partner ids approach 1e10
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cand,
       |         CAST(-(max({'j': jac_ppm, 'np': -partner})).np AS BIGINT) AS best_partner,
       |         CAST(max(jac_ppm) AS BIGINT) AS best_jac_ppm
       |  FROM sym GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(coalesce(b.n_cand, 0) AS BIGINT) AS n_cand,
       |       CAST(coalesce(b.best_partner, -1) AS BIGINT) AS best_partner,
       |       CAST(coalesce(b.best_jac_ppm, 0) AS BIGINT) AS best_jac_ppm,
       |       CAST(CASE WHEN coalesce(b.best_jac_ppm, 0) >= $ppm THEN 1 ELSE 0 END AS BIGINT) AS is_neardup
       |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** payloadCluster mirror: transitive closure over the thresholded
    * byte-shingle pairs (recursive reachability, min-id labels — the
    * dedupCluster pattern), media keeper = argmax (octet_length, min
    * doc_id), singletons absent.
    */
  val mmClusterSql: String = {
    val ppm = llm.Multimodal.NearDupPpm
    s"""WITH RECURSIVE $mmPairCtes,
       |med AS (SELECT id_a, id_b FROM bver WHERE jac_ppm >= $ppm),
       |mund AS (SELECT id_a AS a, id_b AS b FROM med
       |         UNION SELECT id_b, id_a FROM med),
       |mnodes AS (SELECT DISTINCT a AS id FROM mund),
       |mreach(id, r) AS (
       |  SELECT id, id FROM mnodes
       |  UNION
       |  SELECT u.b AS id, mreach.r AS r FROM mreach JOIN mund u ON u.a = mreach.id),
       |mlab AS (SELECT id, min(r) AS comp FROM mreach GROUP BY id),
       |mmem AS (
       |  SELECT mlab.comp AS cluster_id, d.doc_id,
       |         CAST(octet_length(CAST(d.text AS BLOB)) AS BIGINT) AS n_bytes
       |  FROM mlab JOIN documents d ON d.doc_id = mlab.id),
       |mrk AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |           ORDER BY n_bytes DESC, doc_id) AS rn
       |  FROM mmem)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
       |       CAST(min(CASE WHEN rn = 1 THEN n_bytes END) AS BIGINT) AS kept_bytes,
       |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes
       |FROM mrk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  }

  /** mmPipeline mirror: digest dedup (identical payload ⟺ identical
    * text, since the payload IS the UTF-8 text — so the keeper group
    * key mirrors as the text itself), thresholded byte-shingle pairs
    * restricted to the survivors, recursive components, the
    * largest-payload keeper rule, and the stride ceil-div resize
    * accounting.
    */
  val mmPipelineSql: String = {
    val ppm = llm.Multimodal.NearDupPpm
    val st = llm.Multimodal.ResizeStride
    s"""WITH RECURSIVE $mmPairCtes,
       |pay AS (SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, text
       |        FROM documents),
       |s1 AS (SELECT p.doc_id, p.n_bytes FROM pay p
       |       JOIN (SELECT min(doc_id) AS doc_id FROM pay GROUP BY text) k
       |         ON k.doc_id = p.doc_id),
       |ped AS (SELECT id_a, id_b FROM bver
       |        WHERE jac_ppm >= $ppm
       |          AND id_a IN (SELECT doc_id FROM s1)
       |          AND id_b IN (SELECT doc_id FROM s1)),
       |pund AS (SELECT id_a AS a, id_b AS b FROM ped UNION SELECT id_b, id_a FROM ped),
       |pnodes AS (SELECT DISTINCT a AS id FROM pund),
       |preach(id, r) AS (
       |  SELECT id, id FROM pnodes
       |  UNION
       |  SELECT u.b AS id, preach.r AS r FROM preach JOIN pund u ON u.a = preach.id),
       |plab AS (SELECT id, min(r) AS comp FROM preach GROUP BY id),
       |pmem AS (SELECT plab.comp AS cluster_id, s1.doc_id, s1.n_bytes
       |         FROM plab JOIN s1 ON s1.doc_id = plab.id),
       |pdrop AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
       |             ORDER BY n_bytes DESC, doc_id) AS rn FROM pmem)
       |  WHERE rn > 1),
       |s2 AS (SELECT doc_id, n_bytes FROM s1
       |       WHERE doc_id NOT IN (SELECT doc_id FROM pdrop)),
       |s3 AS (SELECT doc_id, (n_bytes + ${st - 1}) // $st AS n_bytes FROM s2)
       |SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(coalesce(sum(n_bytes), 0) AS BIGINT) AS n_bytes FROM pay
       |UNION ALL SELECT '1_exact_dedup', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM s1
       |UNION ALL SELECT '2_neardup_canonical', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT '3_resize', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM s3
       |ORDER BY stage""".stripMargin
  }

  /** mmTextJoin mirror: the text survivor set is pipelineSql's s3 chain
    * (quality → exact keeper → near-dup drop), the media survivor set
    * is mmPipelineSql's s2 chain (digest keeper → component keeper),
    * both re-derived verbatim; the audit is two left joins on doc_id
    * and a per-source conditional rollup.
    */
  val mmTextJoinSql: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val ppm = llm.Multimodal.NearDupPpm
    s"""WITH RECURSIVE $sigCtes, $pairCtes, $mmPairCtes,
       |f AS (
       |  SELECT doc_id, source, text,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         ${wsTokens("text")} AS n_tokens,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |           t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |  FROM documents),
       |s1 AS (
       |  SELECT * FROM f
       |  WHERE n_tokens >= 20 AND n_tokens <= 2000
       |    AND CAST(n_stop AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.5
       |    AND CAST(n_punct AS DOUBLE) <= CAST(n_chars AS DOUBLE) * 0.1),
       |ek AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY text),
       |s2 AS (SELECT s1.* FROM s1 JOIN ek USING (doc_id)),
       |dn AS (
       |  SELECT DISTINCT id_b AS doc_id FROM mh
       |  WHERE est_jaccard >= ${Dedup.NearDupThreshold}
       |    AND id_a IN (SELECT doc_id FROM s2)
       |    AND id_b IN (SELECT doc_id FROM s2)),
       |ts AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM dn)),
       |pay AS (SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, text
       |        FROM documents),
       |ms1 AS (SELECT p.doc_id, p.n_bytes FROM pay p
       |        JOIN (SELECT min(doc_id) AS doc_id FROM pay GROUP BY text) kk
       |          ON kk.doc_id = p.doc_id),
       |ped AS (SELECT id_a, id_b FROM bver
       |        WHERE jac_ppm >= $ppm
       |          AND id_a IN (SELECT doc_id FROM ms1)
       |          AND id_b IN (SELECT doc_id FROM ms1)),
       |pund AS (SELECT id_a AS a, id_b AS b FROM ped UNION SELECT id_b, id_a FROM ped),
       |pnodes AS (SELECT DISTINCT a AS id FROM pund),
       |preach(id, r) AS (
       |  SELECT id, id FROM pnodes
       |  UNION
       |  SELECT u.b AS id, preach.r AS r FROM preach JOIN pund u ON u.a = preach.id),
       |plab AS (SELECT id, min(r) AS comp FROM preach GROUP BY id),
       |pmem AS (SELECT plab.comp AS cluster_id, ms1.doc_id, ms1.n_bytes
       |         FROM plab JOIN ms1 ON ms1.doc_id = plab.id),
       |pdrop AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
       |             ORDER BY n_bytes DESC, doc_id) AS rn FROM pmem)
       |  WHERE rn > 1),
       |ms AS (SELECT doc_id FROM ms1 WHERE doc_id NOT IN (SELECT doc_id FROM pdrop)),
       |base AS (
       |  SELECT d.source,
       |         CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS tt,
       |         CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END AS mm
       |  FROM documents d LEFT JOIN ts t ON t.doc_id = d.doc_id
       |                   LEFT JOIN ms m ON m.doc_id = d.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(tt * mm) AS BIGINT) AS n_both,
       |       CAST(sum(tt * (1 - mm)) AS BIGINT) AS n_text_only,
       |       CAST(sum((1 - tt) * mm) AS BIGINT) AS n_media_only,
       |       CAST(sum((1 - tt) * (1 - mm)) AS BIGINT) AS n_neither
       |FROM base GROUP BY source ORDER BY source""".stripMargin
  }

  /** quantileSketch mirror: the dyadic Count-Min build (exact node
    * counts → poly-hash collision cells, identical keying) and the
    * UNROLLED descent — one CTE per level, each probing the left
    * child's 4 cells via computed-key left joins and stepping the
    * (bucket, residual-rank) state exactly like the engine's walk.
    */
  val quantileSketchSql: String = {
    val L = llm.QuantileSketch.QsLevels
    val W = llm.QuantileSketch.QsWidth
    val bases = llm.QuantileSketch.QsBases
    def hashE(levelLit: Int, bExpr: String, base: Long): String =
      s"(${polyHash(s"CAST($levelLit AS VARCHAR) || ':' || CAST($bExpr AS VARCHAR)", base)}) % $W"
    val cellBranches = bases.zipWithIndex.map { case (base, r) =>
      s"""  SELECT level, CAST($r AS BIGINT) AS r,
         |         (${polyHash("CAST(level AS VARCHAR) || ':' || CAST(bucket AS VARCHAR)", base)}) % $W AS cell,
         |         CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM qnodes GROUP BY 1, 3""".stripMargin
    }.mkString("\nUNION ALL\n")
    val walk = ((L - 1) to 0 by -1).map { l =>
      val prev = if (l == L - 1) "t0" else s"w${l + 1}"
      val joins = bases.indices.map { r =>
        s"""  LEFT JOIN qcells c$r ON c$r.level = $l AND c$r.r = $r
           |    AND c$r.cell = ${hashE(l, "2 * w.b", bases(r))}""".stripMargin
      }.mkString("\n")
      s"""w$l AS (
         |  SELECT p, n,
         |         CASE WHEN t <= est THEN 2 * b ELSE 2 * b + 1 END AS b,
         |         CASE WHEN t <= est THEN t ELSE t - est END AS t
         |  FROM (
         |    SELECT w.p, w.n, w.b, w.t,
         |           least(coalesce(c0.cnt, 0), coalesce(c1.cnt, 0),
         |                 coalesce(c2.cnt, 0), coalesce(c3.cnt, 0)) AS est
         |    FROM $prev w
         |$joins))""".stripMargin
    }.mkString(",\n")
    s"""WITH cn AS (
       |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |qnodes AS (
       |  SELECT CAST(lv.level AS BIGINT) AS level,
       |         cents // (CAST(1 AS BIGINT) << CAST(lv.level AS INT)) AS bucket,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM cn, (SELECT unnest(range(0, $L)) AS level) lv
       |  GROUP BY 1, 2),
       |qcells AS (
       |$cellBranches),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cn),
       |t0 AS (
       |  SELECT CAST(p AS BIGINT) AS p, n, CAST(0 AS BIGINT) AS b,
       |         1 + (p * (n - 1)) // 100 AS t
       |  FROM (SELECT unnest([10, 25, 50, 75, 90, 99]) AS p), nn),
       |$walk
       |SELECT p AS p_pct, 1 + (p * (n - 1)) // 100 AS target_rank,
       |       b AS est_cents, n AS n_values
       |FROM w0 ORDER BY p_pct""".stripMargin
  }

  /** tempMix mirror: integer sqrt via floor(sqrt(double)) + the same
    * one-step clamp, then pure-integer ppm weights.
    */
  val tempMixSql: String = {
    val sc = llm.Sampling.TempMixScale
    s"""WITH $sampleCte,
       |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(n_tokens) AS BIGINT) AS tokens
       |       FROM sf GROUP BY source),
       |s0 AS (SELECT source, n_docs, tokens,
       |              CAST(floor(sqrt(CAST(tokens * $sc AS DOUBLE))) AS BIGINT) AS s0
       |       FROM ps),
       |sq AS (SELECT source, n_docs, tokens,
       |              CASE WHEN (s0 + 1) * (s0 + 1) <= tokens * $sc THEN s0 + 1
       |                   WHEN s0 * s0 > tokens * $sc THEN s0 - 1 ELSE s0 END AS s
       |       FROM s0),
       |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
       |             CAST(sum(s) AS BIGINT) AS total_s FROM sq)
       |SELECT source, n_docs, tokens, s,
       |       CAST(tokens * 1000000 // total_tokens AS BIGINT) AS raw_ppm,
       |       CAST(s * 1000000 // total_s AS BIGINT) AS temp_ppm
       |FROM sq, t ORDER BY source""".stripMargin
  }

  /** shardManifest mirror: the window formulation of the token prefix
    * sum — the semantics the range-exchange + broadcast-offsets path
    * must reproduce exactly (same cut rule, same total order).
    */
  val shardManifestSql: String =
    s"""WITH $sampleCte,
       |r AS (
       |  SELECT doc_id, n_tokens,
       |         coalesce(sum(n_tokens) OVER (ORDER BY fp, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM sf),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM sf),
       |s AS (SELECT doc_id, n_tokens,
       |             CAST(least((cb * ${llm.Sampling.NShards}) // tot,
       |                        ${llm.Sampling.NShards - 1}) AS BIGINT) AS shard_id
       |      FROM r, t)
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** novelty mirror: distinct word bigrams per doc, corpus-wide
    * first-occurrence by min doc_id, per-source exact counts + one
    * division.
    */
  val noveltySql: String =
    s"""WITH f AS (
       |  SELECT source, doc_id,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT source, doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(toks)),
       |           i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]))) AS bg
       |  FROM f WHERE len(toks) >= 2),
       |fst AS (SELECT bg, min(doc_id) AS first_doc FROM b GROUP BY bg),
       |fl AS (
       |  SELECT b.source, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(sum(CASE WHEN b.doc_id = fst.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM b JOIN fst USING (bg) GROUP BY b.source),
       |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
       |SELECT d.source, d.n_docs,
       |       CAST(coalesce(fl.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       CAST(coalesce(fl.n_novel, 0) AS BIGINT) AS n_novel,
       |       CAST(coalesce(fl.n_novel, 0) AS DOUBLE)
       |         / CAST(coalesce(fl.n_bigrams, 1) AS DOUBLE) AS novelty_rate
       |FROM d LEFT JOIN fl USING (source) ORDER BY d.source""".stripMargin

  val tokenBudgetSql: String =
    s"""WITH $sampleCte,
       |r AS (
       |  SELECT source, n_tokens,
       |         sum(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
       |  FROM sf)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
       |FROM r WHERE running <= ${llm.Sampling.TokenBudget}
       |GROUP BY source ORDER BY source""".stripMargin

  /** components mirror: the same banded-candidate edge set as
    * minhashPairsSql, transitively closed with a recursive CTE (fine at
    * oracle scale; the Spark side uses label propagation instead).
    */
  val componentsSql: String =
    s"""WITH RECURSIVE $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS a, id_b AS b FROM ed UNION SELECT id_b, id_a FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r AS r FROM reach JOIN und u ON u.a = reach.id),
       |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT comp AS comp_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(id) AS BIGINT) AS sum_ids
       |FROM lab GROUP BY comp ORDER BY comp_id""".stripMargin

  /** dedupCluster mirror: componentsSql's closure, then the keep rule —
    * non-canonical members (id <> comp) drop; the pairwise drop set
    * (distinct id_b) is re-derived for the `extra_vs_pairwise` delta.
    */
  /** X-CANONICAL mirror: the dedupCluster recursive components relabeled
    * to min-doc_id cluster ids, then the (n_tokens DESC, doc_id) argmax
    * per cluster over whitespace-token counts.
    */
  val canonicalSql: String =
    s"""WITH RECURSIVE $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS a, id_b AS b FROM ed UNION SELECT id_b, id_a FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r AS r FROM reach JOIN und u ON u.a = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |mem AS (
       |  SELECT lab.cluster_id, d.doc_id,
       |         CAST(len(list_filter(regexp_split_to_array(d.text, '\\s+'),
       |           x -> x <> '')) AS BIGINT) AS n_tokens
       |  FROM lab JOIN documents d ON d.doc_id = lab.id),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |           ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM mem)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
       |       CAST(min(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT) AS kept_tokens,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** X-HUBNESS mirror: brute top-k from the shared c/q CTEs, in-degree
    * per cid, antihubs kept via the corpus left join.
    */
  // lazy: simBaseCtes is declared further down the file — an eager val
  // here would capture null at object init
  lazy val hubnessSql: String = {
    val k = llm.Similarity.K
    s"""WITH $simBaseCtes,
       |bs AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM c, q WHERE c.vec_id <> q.qid),
       |bt AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |             ORDER BY cosine DESC, cid) AS rank
       |    FROM bs) WHERE rank <= $k),
       |indeg AS (SELECT cid AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
       |          FROM bt GROUP BY cid),
       |alld AS (
       |  SELECT c.vec_id, coalesce(indeg.in_degree, 0) AS in_degree
       |  FROM c LEFT JOIN indeg ON indeg.vec_id = c.vec_id)
       |SELECT CAST(in_degree AS BIGINT) AS in_degree,
       |       CAST(count(*) AS BIGINT) AS n_vectors,
       |       CAST(min(vec_id) AS BIGINT) AS min_vec_id
       |FROM alld GROUP BY in_degree ORDER BY in_degree""".stripMargin
  }

  val dedupClusterSql: String =
    s"""WITH RECURSIVE $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS a, id_b AS b FROM ed UNION SELECT id_b, id_a FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r AS r FROM reach JOIN und u ON u.a = reach.id),
       |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |ccd AS (SELECT id AS doc_id FROM lab WHERE id <> comp),
       |pwd AS (SELECT DISTINCT id_b AS doc_id FROM ed),
       |fl AS (
       |  SELECT d.source, length(d.text) AS nc,
       |         CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS cc_drop,
       |         CASE WHEN p.doc_id IS NULL THEN 0 ELSE 1 END AS pw_drop
       |  FROM documents d
       |  LEFT JOIN ccd c ON d.doc_id = c.doc_id
       |  LEFT JOIN pwd p ON d.doc_id = p.doc_id)
       |SELECT source, CAST(sum(1 - cc_drop) AS BIGINT) AS n_kept,
       |       CAST(sum((1 - cc_drop) * nc) AS BIGINT) AS kept_chars,
       |       CAST(sum(cc_drop) AS BIGINT) AS n_dropped,
       |       CAST(sum(cc_drop * (1 - pw_drop)) AS BIGINT) AS extra_vs_pairwise
       |FROM fl GROUP BY source ORDER BY source""".stripMargin

  /** BFS mirror: same edge CTEs, seeds = nodes with id % 10 == 0, the
    * recursive walk enumerates (node, path-length) pairs (UNION dedups,
    * so the recursion is bounded by cap × |nodes|); min(dist) per node
    * is the BFS distance, histogrammed like the Spark side. The Spark
    * loop's maxRounds=40 spends one round detecting the fixpoint, so it
    * completes only for eccentricity ≤ 39 — the walk caps at d < 39
    * (max depth 39) so both engines cover exactly the same radius.
    */
  val shortestPathSql: String =
    s"""WITH RECURSIVE $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS a, id_b AS b FROM ed UNION SELECT id_b, id_a FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |walk(id, d) AS (
       |  SELECT id, CAST(0 AS BIGINT) FROM nodes WHERE id % 10 = 0
       |  UNION
       |  SELECT u.b AS id, walk.d + 1 AS d FROM walk JOIN und u ON u.a = walk.id
       |  WHERE walk.d < 39),
       |bfs AS (SELECT id, min(d) AS dist FROM walk GROUP BY id)
       |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       |       CAST(min(id) AS BIGINT) AS min_id,
       |       CAST(sum(id) AS BIGINT) AS sum_ids
       |FROM bfs GROUP BY dist ORDER BY dist""".stripMargin

  /** degree mirror: same edge CTEs, endpoints exploded, count-of-counts. */
  val degreesSql: String =
    s"""WITH $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed),
       |d AS (SELECT id, count(*) AS degree FROM und GROUP BY id)
       |SELECT CAST(degree AS BIGINT) AS degree,
       |       CAST(count(*) AS BIGINT) AS n_nodes,
       |       CAST(min(id) AS BIGINT) AS min_id
       |FROM d GROUP BY degree ORDER BY degree""".stripMargin

  /** CMS mirror: the sketch merge is pure addition, so each cell equals
    * the collision SUM over the exact vocabulary — recomputed here with
    * the same poly-hashes; estimates then hash-match exactly.
    */
  val cmsSql: String = {
    import graft.functions.CountMin
    val W = CountMin.Width
    def cell(expr: String, base: Long) = s"((${polyHash(expr, base)}) % $W)"
    val sums = CountMin.Bases.zipWithIndex.map { case (b, r) =>
      s"s$r AS (SELECT ${cell("token", b)} AS cell, sum(freq) AS s FROM v GROUP BY 1)"
    }.mkString(",\n")
    val joins = CountMin.Bases.zipWithIndex.map { case (b, r) =>
      s"JOIN s$r a$r ON ${cell("top.token", b)} = a$r.cell"
    }.mkString("\n")
    val est = s"least(${CountMin.Bases.indices.map(r => s"a$r.s").mkString(", ")})"
    s"""WITH t AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |           x -> x <> '')) AS token
       |  FROM documents),
       |v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM t GROUP BY token),
       |top AS (SELECT token, freq FROM v ORDER BY freq DESC, token LIMIT 10),
       |$sums
       |SELECT top.token, top.freq,
       |       CAST($est AS BIGINT) AS cms_est,
       |       CAST(CASE WHEN $est >= top.freq THEN 1 ELSE 0 END AS BIGINT) AS cms_ge_exact
       |FROM top
       |$joins
       |ORDER BY top.freq DESC, top.token""".stripMargin
  }

  /** stratified mirror: the 64-bit content hash of the DECIMAL-format
    * event id, bucketed mod 100 against the per-stratum percentage.
    */
  val stratifiedSql: String = {
    val pctCase = llm.Sampling.StrataPct.map { case (t, p) =>
      s"WHEN event_type = '$t' THEN $p"
    }.mkString("CASE ", " ", " ELSE -1 END")
    val h = hash64u("CAST(event_id AS VARCHAR)")
    s"""WITH b AS (
       |  SELECT event_type, value,
       |         ((${signed64(h)} % 100) + 100) % 100 AS b,
       |         $pctCase AS pct
       |  FROM events)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
       |       CAST(sum(CASE WHEN b < pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(coalesce(sum(CASE WHEN b < pct THEN CAST(value AS DECIMAL(18,2)) END),
       |            CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS kept_value
       |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Shared lang-id prediction CTE chain (`tk` → `sc` → `pr`), used by
    * both the confusion matrix (x_lang_id) and the derived eval metrics
    * (x_eval_metrics).
    */
  private val langPrCtes: String = {
    val scores = TextAnalysis.LangProfiles.map { case (_, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, t -> t IN ($inList))) AS BIGINT)"
    }.mkString("[", ",\n         ", "]")
    val cases = TextAnalysis.LangProfiles.map(_._1).zipWithIndex.map { case (lang, i) =>
      s"WHEN scores[${i + 1}] = list_max(scores) THEN '$lang'"
    }.mkString("\n    ")
    s"""tk AS (
       |  SELECT lang, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |sc AS (SELECT lang, $scores AS scores FROM tk),
       |pr AS (SELECT lang, CASE
       |    WHEN list_max(scores) = 0 THEN 'und'
       |    $cases
       |    ELSE 'und' END AS predicted
       |  FROM sc)""".stripMargin
  }

  val langIdSql: String =
    s"""WITH $langPrCtes
       |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
       |FROM pr GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  /** evalMetrics mirror: same prediction chain, per-class counts, then
    * the prec/rec/f1 expressions computed from the COALESCED final
    * columns with exact integer guards — form-identical to the engine.
    */
  val evalMetricsSql: String =
    s"""WITH $langPrCtes,
       |conf AS (
       |  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
       |  FROM pr GROUP BY 1, 2),
       |a AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_actual FROM conf GROUP BY lang),
       |pd AS (SELECT predicted AS lang, CAST(sum(n) AS BIGINT) AS n_predicted
       |       FROM conf GROUP BY predicted),
       |tp0 AS (SELECT lang, n AS tp FROM conf WHERE lang = predicted),
       |j AS (
       |  SELECT a.lang, a.n_actual,
       |         coalesce(pd.n_predicted, CAST(0 AS BIGINT)) AS n_predicted,
       |         coalesce(tp0.tp, CAST(0 AS BIGINT)) AS tp
       |  FROM a LEFT JOIN pd USING (lang) LEFT JOIN tp0 USING (lang))
       |SELECT lang, n_actual, n_predicted, tp,
       |       CASE WHEN n_predicted = 0 THEN 0.0
       |            ELSE CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE) END AS prec,
       |       CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE) AS rec,
       |       CASE WHEN tp = 0 THEN 0.0
       |            ELSE 2.0 * (CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE))
       |                     * (CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE))
       |               / ((CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE))
       |                + (CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE))) END AS f1
       |FROM j ORDER BY lang""".stripMargin

  // ---- similarity (LSH / IVF) ----------------------------------------

  /** Exact cosine between two 64-dim float list expressions — the same
    * left-to-right double fold as the DotProduct kernel (x_sim_brute
    * precedent).
    */
  private def cosine(av: String, an: String, bv: String, bn: String): String =
    s"""list_sum(list_transform(range(1, 65),
       |  i -> CAST($av[CAST(i AS INT)] AS DOUBLE) * CAST($bv[CAST(i AS INT)] AS DOUBLE)))
       |  / ($an * $bn)""".stripMargin

  /** Shared corpus/query CTEs (norms > 0, every 200th vector queries). */
  private val simBaseCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT * FROM e WHERE nrm > 0),
       |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM c
       |      WHERE vec_id % ${llm.Similarity.QueryStride} = 0)""".stripMargin

  private def rankSelect(k: Int): String =
    s"""r AS (
       |  SELECT qid, cid, cosine,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cosine DESC, cid) AS BIGINT) AS rank
       |  FROM s)
       |SELECT qid, rank, cid, round(cosine, 6) AS cosine
       |FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** [[rankSelect]] plus the recall@k grading column: rank the ANN
    * candidate CTE `s`, recompute the BRUTE top-k from the shared c/q
    * CTEs, and attach `recall_hits` = |ANN top-k ∩ brute top-k| per qid
    * (0 for a query whose ANN rows all miss).
    */
  private def rankRecallSelect(k: Int): String =
    s"""r AS (
       |  SELECT qid, cid, cosine,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cosine DESC, cid) AS BIGINT) AS rank
       |  FROM s),
       |ann AS (SELECT qid, rank, cid, cosine FROM r WHERE rank <= $k),
       |bs AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM c, q WHERE c.vec_id <> q.qid),
       |bt AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |             ORDER BY cosine DESC, cid) AS rank
       |    FROM bs) WHERE rank <= $k),
       |h AS (
       |  SELECT ann.qid, count(*) AS hits
       |  FROM ann JOIN bt ON ann.qid = bt.qid AND ann.cid = bt.cid
       |  GROUP BY ann.qid)
       |SELECT ann.qid AS qid, ann.rank AS rank, ann.cid AS cid,
       |       round(ann.cosine, 6) AS cosine,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS recall_hits
       |FROM ann LEFT JOIN h ON ann.qid = h.qid
       |ORDER BY ann.qid, ann.rank""".stripMargin

  /** Sign-bucket of a vector expression in hash table `t` (column ref):
    * bit j = (Σ_d ±v[d]) >= 0 with the kernel's plane-sign literal.
    */
  private def bucketExpr(v: String, t: String): String =
    s"""CAST(list_sum(list_transform(range(0, ${llm.Similarity.BitsPerTable}), j ->
       |  CASE WHEN list_sum(list_transform(range(0, 64), d ->
       |      CASE WHEN ps[CAST(($t * ${llm.Similarity.BitsPerTable} + j) * 64 + d + 1 AS INT)] = 1
       |        THEN CAST($v[CAST(d + 1 AS INT)] AS DOUBLE)
       |        ELSE -CAST($v[CAST(d + 1 AS INT)] AS DOUBLE) END)) >= 0
       |    THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END))
       |  AS BIGINT)""".stripMargin

  val simLshSql: String =
    s"""WITH $simBaseCtes,
       |pl AS (SELECT ${llm.Similarity.planeSigns.mkString("[", ", ", "]")} AS ps),
       |tb AS (SELECT unnest(range(0, ${llm.Similarity.NumTables})) AS t),
       |cb AS (
       |  SELECT c.vec_id, c.embedding, c.nrm, tb.t AS t,
       |         ${bucketExpr("c.embedding", "tb.t")} AS bucket
       |  FROM c, tb, pl),
       |qb AS (
       |  SELECT q.qid, q.qv, q.qn, tb.t AS t,
       |         ${bucketExpr("q.qv", "tb.t")} AS bucket
       |  FROM q, tb, pl),
       |s AS (
       |  SELECT DISTINCT qb.qid, cb.vec_id AS cid,
       |         ${cosine("qb.qv", "qb.qn", "cb.embedding", "cb.nrm")} AS cosine
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |                 AND cb.vec_id <> qb.qid),
       |${rankRecallSelect(llm.Similarity.K)}""".stripMargin

  /** rrfTopK mirror: the brute and LSH top-K lists ranked exactly as
    * their own oracles rank them, fused with integer-ppm
    * reciprocal-rank contributions (`1000000 // (C + rank)`), re-ranked
    * on (rrf_ppm DESC, cid).
    */
  val rrfSql: String = {
    val k = llm.Similarity.K
    val c0 = llm.Similarity.RrfC
    s"""WITH $simBaseCtes,
       |bs AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM c, q WHERE c.vec_id <> q.qid),
       |bt AS (
       |  SELECT qid, cid, rb FROM (
       |    SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid
       |             ORDER BY cosine DESC, cid) AS BIGINT) AS rb
       |    FROM bs) WHERE rb <= $k),
       |pl AS (SELECT ${llm.Similarity.planeSigns.mkString("[", ", ", "]")} AS ps),
       |tb AS (SELECT unnest(range(0, ${llm.Similarity.NumTables})) AS t),
       |cb AS (
       |  SELECT c.vec_id, c.embedding, c.nrm, tb.t AS t,
       |         ${bucketExpr("c.embedding", "tb.t")} AS bucket
       |  FROM c, tb, pl),
       |qb AS (
       |  SELECT q.qid, q.qv, q.qn, tb.t AS t,
       |         ${bucketExpr("q.qv", "tb.t")} AS bucket
       |  FROM q, tb, pl),
       |ls AS (
       |  SELECT DISTINCT qb.qid, cb.vec_id AS cid,
       |         ${cosine("qb.qv", "qb.qn", "cb.embedding", "cb.nrm")} AS cosine
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |                 AND cb.vec_id <> qb.qid),
       |lt AS (
       |  SELECT qid, cid, rl FROM (
       |    SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid
       |             ORDER BY cosine DESC, cid) AS BIGINT) AS rl
       |    FROM ls) WHERE rl <= $k),
       |fu AS (
       |  SELECT coalesce(bt.qid, lt.qid) AS qid, coalesce(bt.cid, lt.cid) AS cid,
       |         coalesce(1000000 // ($c0 + rb), 0)
       |           + coalesce(1000000 // ($c0 + rl), 0) AS rrf_ppm,
       |         (CASE WHEN rb IS NULL THEN 0 ELSE 1 END
       |           + CASE WHEN rl IS NULL THEN 0 ELSE 1 END) AS n_rankers
       |  FROM bt FULL OUTER JOIN lt ON bt.qid = lt.qid AND bt.cid = lt.cid)
       |SELECT qid, rank, cid, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       |       CAST(n_rankers AS BIGINT) AS n_rankers
       |FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |           ORDER BY rrf_ppm DESC, cid) AS BIGINT) AS rank
       |  FROM fu) WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** embedDups mirror: LSH bucket-collision candidates (same plane-sign
    * literal as simLshSql) verified with the exact cosine threshold.
    */
  val embedDupsSql: String =
    s"""WITH $simBaseCtes,
       |pl AS (SELECT ${llm.Similarity.planeSigns.mkString("[", ", ", "]")} AS ps),
       |tb AS (SELECT unnest(range(0, ${llm.Similarity.NumTables})) AS t),
       |cb AS (
       |  SELECT c.vec_id, c.embedding, c.nrm, tb.t AS t,
       |         ${bucketExpr("c.embedding", "tb.t")} AS bucket
       |  FROM c, tb, pl),
       |p AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${cosine("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cosine
       |  FROM cb a JOIN cb b ON a.t = b.t AND a.bucket = b.bucket
       |                     AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, round(cosine, 6) AS cosine
       |FROM p WHERE cosine >= ${queries.ScaleQueries.DupThreshold}
       |ORDER BY id_a, id_b""".stripMargin

  /** squared euclidean distance mirror of [[llm.Similarity.sqDist]]. */
  private def sqdist(av: String, bv: String): String =
    s"""list_sum(list_transform(range(1, 65),
       |  i -> (CAST($av[CAST(i AS INT)] AS DOUBLE) - CAST($bv[CAST(i AS INT)] AS DOUBLE))
       |     * (CAST($av[CAST(i AS INT)] AS DOUBLE) - CAST($bv[CAST(i AS INT)] AS DOUBLE))))""".stripMargin

  /** mmrRerank mirror: brute top-K per query with relevance and raw
    * vectors, the K² within-query candidate-pair sims, then the greedy
    * unrolled to K pick/update CTE pairs. λ/μ are independent double
    * literals (never 1−λ), scores and sims are the same double expression
    * trees as the Spark side, so selection order and tie-breaks agree
    * bit-for-bit.
    */
  val mmrSql: String = {
    val k = llm.Similarity.K
    val lam = llm.Similarity.MmrLambda
    val mu = llm.Similarity.MmrMu
    val head =
      s"""WITH $simBaseCtes,
         |bs AS (
         |  SELECT q.qid, c.vec_id AS cid,
         |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS rel,
         |         c.embedding AS cv, c.nrm AS cn
         |  FROM c, q WHERE c.vec_id <> q.qid),
         |bt AS (
         |  SELECT qid, cid, rel, cv, cn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |             ORDER BY rel DESC, cid) AS rn
         |    FROM bs) WHERE rn <= $k),
         |cp AS (
         |  SELECT a.qid, a.cid AS ci, b.cid AS cj,
         |         ${cosine("a.cv", "a.cn", "b.cv", "b.cn")} AS sim
         |  FROM bt a JOIN bt b ON a.qid = b.qid AND a.cid <> b.cid),
         |m0 AS (SELECT qid, cid, rel, CAST(0 AS DOUBLE) AS maxsim FROM bt)""".stripMargin
    val rounds = (1 to k).map { t =>
      val m = s"m${t - 1}"
      val pick =
        s"""p$t AS (
           |  SELECT qid, cid, CAST($lam AS DOUBLE) * rel
           |           - CAST($mu AS DOUBLE) * maxsim AS score FROM (
           |    SELECT qid, cid, rel, maxsim,
           |           row_number() OVER (PARTITION BY qid
           |             ORDER BY CAST($lam AS DOUBLE) * rel
           |                      - CAST($mu AS DOUBLE) * maxsim DESC, cid) AS rn
           |    FROM $m) WHERE rn = 1)""".stripMargin
      val fold = if (t == k) "" else
        s""",
           |m$t AS (
           |  SELECT m.qid, m.cid, m.rel, greatest(m.maxsim, cp.sim) AS maxsim
           |  FROM $m m
           |  JOIN p$t ON m.qid = p$t.qid AND m.cid <> p$t.cid
           |  JOIN cp ON cp.qid = m.qid AND cp.ci = m.cid AND cp.cj = p$t.cid)""".stripMargin
      pick + fold
    }
    val select = (1 to k).map(t =>
        s"SELECT qid, CAST($t AS BIGINT) AS mmr_rank, cid," +
          s" round(score, 6) AS mmr_score FROM p$t")
      .mkString("", "\nUNION ALL ", "\nORDER BY qid, mmr_rank")
    (head +: rounds).mkString("", ",\n", "\n") + select
  }

  /** kcenter mirror: the greedy farthest-point loop unrolled to
    * [[llm.Similarity.KCenterK]] rounds of (argmax min-dist → least-fold)
    * CTE pairs in the same floor(x·2^10) quantized domain — every
    * selection, distance, and tie-break is integer-exact, so the rounds
    * agree bit-for-bit with the Spark loop. Every CTE is MATERIALIZED:
    * round i's fold feeds both round i+1's pick and its fold, so an
    * inlined chain re-evaluates the first fold 2^k times.
    */
  val kcenterSql: String = {
    val k = llm.Similarity.KCenterK
    def centerQe(sel: String): String =
      s"(SELECT e.qe FROM e JOIN $sel s ON e.vec_id = s.vec_id) c"
    val head =
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS REAL)) AS qe
         |  FROM embeddings),
         |n1 AS MATERIALIZED (
         |  SELECT vec_id, CAST(0 AS DOUBLE) AS mind FROM e ORDER BY vec_id LIMIT 1),
         |m1 AS MATERIALIZED (
         |  SELECT m.vec_id, m.qe, ${sqdist("m.qe", "c.qe")} AS mind
         |  FROM e m, ${centerQe("n1")})""".stripMargin
    val rounds = (2 to k).map { i =>
      val excl = (1 until i).map(j => s"SELECT vec_id FROM n$j").mkString(" UNION ALL ")
      val pick =
        s"""n$i AS MATERIALIZED (
           |  SELECT vec_id, mind FROM m${i - 1}
           |  WHERE vec_id NOT IN ($excl)
           |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
      val fold = if (i == k) "" else
        s""",
           |m$i AS MATERIALIZED (
           |  SELECT m.vec_id, m.qe, least(m.mind, ${sqdist("m.qe", "c.qe")}) AS mind
           |  FROM m${i - 1} m, ${centerQe(s"n$i")})""".stripMargin
      pick + fold
    }
    val select = (1 to k).map(i =>
        s"SELECT CAST($i AS BIGINT) AS sel_ord, CAST(vec_id AS BIGINT) AS vec_id," +
          s" CAST(mind AS BIGINT) AS dist_q FROM n$i")
      .mkString("", "\nUNION ALL ", "\nORDER BY sel_ord")
    (head +: rounds).mkString("", ",\n", "\n") + select
  }

  /** kmeans mirror: brute-force n×k argmin with (d, cent_id) ordering. */
  val kmeansSql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
       |  WHERE vec_id % ${llm.Similarity.CentroidStride} = 0),
       |a AS (
       |  SELECT e.vec_id, cents.cent_id,
       |         ${sqdist("e.embedding", "cents.cv")} AS d
       |  FROM embeddings e, cents),
       |r AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
       |  FROM a),
       |asg AS (SELECT vec_id, cent_id FROM r WHERE rn = 1)
       |SELECT cent_id AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(min(vec_id) AS BIGINT) AS min_member,
       |       CAST(sum(vec_id) AS BIGINT) AS sum_members
       |FROM asg GROUP BY cent_id ORDER BY cluster_id""".stripMargin

  /** kmeansIter mirror: the full Lloyd loop in the same quantized domain
    * as [[llm.Similarity.kmeansIter]]. `floor(x*1024)` is exact (power-of-
    * two multiply, |q| ≪ 2^24 so FLOAT holds it exactly), quantized
    * distances are exact integers far below 2^53, and each centroid mean
    * is an exact integer sum, ONE division, and ONE round-to-nearest
    * REAL cast — so every assignment, tie-break, and convergence count is
    * bit-identical across engines.
    */
  private def lloydAssignCte(name: String, centRel: String): String =
    s"""$name AS (
       |  SELECT vec_id, qe, cid AS cluster_id FROM (
       |    SELECT e.vec_id, e.qe, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${sqdist("e.qe", "c.cv")}, c.cid) AS rn
       |    FROM e, $centRel c) WHERE rn = 1)""".stripMargin

  private def lloydUpdateCte(name: String, fromAssign: String): String =
    s"""$name AS (
       |  SELECT cluster_id AS cid, list(v ORDER BY dim) AS cv FROM (
       |    SELECT cluster_id, dim,
       |           CAST(sum(CAST(x AS DOUBLE)) / count(*) AS REAL) AS v FROM (
       |      SELECT a.cluster_id, t.range AS dim,
       |             a.qe[CAST(t.range AS INT)] AS x
       |      FROM $fromAssign a, range(1, 65) t)
       |    GROUP BY cluster_id, dim)
       |  GROUP BY cluster_id)""".stripMargin

  /** The shared Lloyd chain: quantized corpus → seed centroids → three
    * assignments with two centroid updates between (a1..a3) — the CTE
    * backbone of both kmeansIterSql and semDedupSql.
    */
  private val lloydChainCtes: String =
    s"""e AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS REAL)) AS qe
       |  FROM embeddings),
       |c1 AS (SELECT vec_id AS cid, qe AS cv FROM e
       |       WHERE vec_id % ${llm.Similarity.CentroidStride} = 0),
       |${lloydAssignCte("a1", "c1")},
       |${lloydUpdateCte("c2", "a1")},
       |${lloydAssignCte("a2", "c2")},
       |${lloydUpdateCte("c3", "a2")},
       |${lloydAssignCte("a3", "c3")}""".stripMargin

  val kmeansIterSql: String = {
    def summaryCte(name: String, iter: Int, cur: String, prev: Option[String]): String =
      prev match {
        case None =>
          s"""$name AS (
             |  SELECT CAST($iter AS INT) AS iter, cluster_id,
             |         CAST(count(*) AS BIGINT) AS n_members,
             |         CAST(min(vec_id) AS BIGINT) AS min_member,
             |         CAST(sum(vec_id) AS BIGINT) AS sum_members,
             |         CAST(count(*) AS BIGINT) AS n_moved
             |  FROM $cur GROUP BY cluster_id)""".stripMargin
        case Some(p) =>
          s"""$name AS (
             |  SELECT CAST($iter AS INT) AS iter, a.cluster_id,
             |         CAST(count(*) AS BIGINT) AS n_members,
             |         CAST(min(a.vec_id) AS BIGINT) AS min_member,
             |         CAST(sum(a.vec_id) AS BIGINT) AS sum_members,
             |         CAST(sum(CASE WHEN a.cluster_id <> p.cluster_id
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
             |  FROM $cur a JOIN $p p ON a.vec_id = p.vec_id
             |  GROUP BY a.cluster_id)""".stripMargin
      }
    s"""WITH $lloydChainCtes,
       |${summaryCte("s1", 1, "a1", None)},
       |${summaryCte("s2", 2, "a2", Some("a1"))},
       |${summaryCte("s3", 3, "a3", Some("a2"))}
       |SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |               UNION ALL SELECT * FROM s3)
       |ORDER BY iter, cluster_id""".stripMargin
  }

  /** semanticDedup mirror: the same Lloyd chain, then within-cluster
    * cosine pairs over the quantized vectors (integer-exact dots,
    * correctly-rounded sqrt norms) and the greedy min-id-keeper profile.
    * Zero-norm vectors are excluded from pairing exactly as in Spark.
    */
  val semDedupSql: String =
    s"""WITH $lloydChainCtes,
       |nz AS (
       |  SELECT cluster_id, vec_id, qe,
       |         sqrt(list_sum(list_transform(qe,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM a3 WHERE list_sum(list_transform(qe,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |p AS (
       |  SELECT * FROM (
       |    SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |           ${cosine("a.qe", "a.nrm", "b.qe", "b.nrm")} AS cosine
       |    FROM nz a JOIN nz b ON a.cluster_id = b.cluster_id
       |                       AND a.vec_id < b.vec_id)
       |  WHERE cosine >= ${llm.Similarity.SemDedupThreshold}),
       |ps AS (SELECT cluster_id, count(*) AS n_pairs FROM p GROUP BY 1),
       |dr AS (SELECT cluster_id, count(*) AS n_dropped, sum(id_b) AS sum_dropped
       |       FROM (SELECT DISTINCT cluster_id, id_b FROM p) GROUP BY 1),
       |mm AS (SELECT cluster_id, count(*) AS n_members FROM a3 GROUP BY 1)
       |SELECT mm.cluster_id,
       |       CAST(mm.n_members AS BIGINT) AS n_members,
       |       CAST(coalesce(ps.n_pairs, 0) AS BIGINT) AS n_pairs,
       |       CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
       |       CAST(mm.n_members - coalesce(dr.n_dropped, 0) AS BIGINT) AS n_kept,
       |       CAST(coalesce(dr.sum_dropped, 0) AS BIGINT) AS sum_dropped
       |FROM mm LEFT JOIN ps ON mm.cluster_id = ps.cluster_id
       |        LEFT JOIN dr ON mm.cluster_id = dr.cluster_id
       |ORDER BY mm.cluster_id""".stripMargin

  /** bm25 mirror: same whitespace tokens, same rational idf, same BM25
    * constants interpolated from the same Scala doubles (round-tripping
    * toString → identical bits), per-document term sum folded in token
    * order on both engines.
    */
  val bm25Sql: String = {
    import llm.TextAnalysis.{Bm25B, Bm25K1, Bm25QueryTerms, Bm25TopK}
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |           x -> x <> '')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dlen FROM t GROUP BY 1),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs,
       |              (SELECT CAST(count(*) AS DOUBLE) FROM t)
       |                / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS avgdl),
       |qt AS (SELECT token FROM (SELECT token, count(*) AS gtf FROM t GROUP BY 1)
       |       ORDER BY gtf DESC, token LIMIT $Bm25QueryTerms),
       |s AS (
       |  SELECT tf.doc_id, dl.dlen, tf.token,
       |         ((st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
       |         ((tf.tf * ${Bm25K1 + 1}) /
       |           (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * (dl.dlen / st.avgdl)))) AS s
       |  FROM tf JOIN qt USING (token) JOIN df USING (token)
       |          JOIN dl USING (doc_id), st),
       |a AS (
       |  SELECT doc_id, dlen, count(*) AS n_terms,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list(s ORDER BY token)), (acc, x) -> acc + x), 6) AS score
       |  FROM s GROUP BY doc_id, dlen)
       |SELECT doc_id, CAST(dlen AS BIGINT) AS dlen,
       |       CAST(n_terms AS BIGINT) AS n_terms, score
       |FROM a ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  /** hybridRrf mirror: the lexical ranker is [[bm25Sql]] embedded
    * VERBATIM as a subquery and re-ranked by its own output order; the
    * dense ranker re-derives the per-document hashing-trick vectors
    * (hashFeaturesSql's kernel, doc-keyed), the corpus-sign query
    * vector, and the exact integer dot; fusion is the same integer-ppm
    * reciprocal-rank fold as rrfSql.
    */
  val hybridRrfSql: String = {
    val k = llm.TextAnalysis.Bm25TopK
    val d = llm.TextAnalysis.HashFeatDims
    val c0 = llm.Similarity.RrfC
    s"""WITH lexq AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |           AS lex_rank
       |  FROM ($bm25Sql)),
       |htk AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |hg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    gi -> toks[CAST(gi AS INT)] || ' ' || toks[CAST(gi + 1 AS INT)])) AS g
       |  FROM htk WHERE len(toks) >= 2),
       |hh AS (
       |  SELECT doc_id,
       |         ${polyHash("g", 131)} % $d AS bucket,
       |         (${polyHash("g", 137)} % 2) * 2 - 1 AS sign
       |  FROM hg),
       |dv AS (
       |  SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v
       |  FROM hh GROUP BY 1, 2),
       |qv AS (
       |  SELECT bucket,
       |         CASE WHEN sum(v) > 0 THEN 1 WHEN sum(v) < 0 THEN -1 ELSE 0 END AS qs
       |  FROM dv GROUP BY 1),
       |ds AS (
       |  SELECT dv.doc_id, CAST(sum(dv.v * qv.qs) AS BIGINT) AS dense_dot
       |  FROM dv JOIN qv USING (bucket) GROUP BY 1),
       |dtop AS (
       |  SELECT doc_id, dense_dot FROM ds
       |  ORDER BY dense_dot DESC, doc_id LIMIT $k),
       |denq AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY dense_dot DESC, doc_id) AS BIGINT)
       |           AS dense_rank
       |  FROM dtop),
       |fu AS (
       |  SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
       |         coalesce(1000000 // ($c0 + lex_rank), 0)
       |           + coalesce(1000000 // ($c0 + dense_rank), 0) AS rrf_ppm,
       |         (CASE WHEN lex_rank IS NULL THEN 0 ELSE 1 END
       |           + CASE WHEN dense_rank IS NULL THEN 0 ELSE 1 END) AS n_rankers,
       |         lex_rank, dense_rank
       |  FROM lexq l FULL OUTER JOIN denq r ON l.doc_id = r.doc_id)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
       |       CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       |       CAST(n_rankers AS BIGINT) AS n_rankers, lex_rank, dense_rank
       |FROM (
       |  SELECT *, row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rank
       |  FROM fu) WHERE rank <= $k
       |ORDER BY rank""".stripMargin
  }

  /** multi-probe mirror of [[simLshSql]]: the query side probes its own
    * bucket plus every single-bit-flip neighbor; the corpus side is
    * byte-identical to the single-probe index.
    */
  val simMultiprobeSql: String =
    s"""WITH $simBaseCtes,
       |pl AS (SELECT ${llm.Similarity.planeSigns.mkString("[", ", ", "]")} AS ps),
       |tb AS (SELECT unnest(range(0, ${llm.Similarity.NumTables})) AS t),
       |cb AS (
       |  SELECT c.vec_id, c.embedding, c.nrm, tb.t AS t,
       |         ${bucketExpr("c.embedding", "tb.t")} AS bucket
       |  FROM c, tb, pl),
       |qb0 AS (
       |  SELECT q.qid, q.qv, q.qn, tb.t AS t,
       |         ${bucketExpr("q.qv", "tb.t")} AS bucket
       |  FROM q, tb, pl),
       |qb AS (
       |  SELECT qid, qv, qn, t,
       |         unnest(list_prepend(bucket,
       |           list_transform(range(0, ${llm.Similarity.BitsPerTable}),
       |             j -> xor(bucket, CAST(1 AS BIGINT) << CAST(j AS INT))))) AS bucket
       |  FROM qb0),
       |s AS (
       |  SELECT DISTINCT qb.qid, cb.vec_id AS cid,
       |         ${cosine("qb.qv", "qb.qn", "cb.embedding", "cb.nrm")} AS cosine
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |                 AND cb.vec_id <> qb.qid),
       |${rankRecallSelect(llm.Similarity.K)}""".stripMargin

  /** knngraph mirror: the LSH-collision kNN-graph build (corpus-side cb
    * CTE identical to simLshSql's, pairs deduped across tables, per-src
    * top-[[llm.Similarity.KnnDegree]] by (cos DESC, dst), symmetrized),
    * the pinned hash-order entry point, and the greedy beam search
    * unrolled to [[llm.Similarity.BeamRounds]] CTE rounds — candidates
    * from the frontier's edges, visited rows excluded via NOT EXISTS
    * (the Spark anti-join), per-round top-[[llm.Similarity.BeamWidth]]
    * frontier with the identical (cos DESC, cid) total order. The final
    * top-K re-ranks every visited candidate, exactly like the Spark
    * side.
    */
  /** The shared kNN-graph CTE chain ([[llm.Similarity.knnEdgesOf]]'s
    * mirror): per-table corpus buckets, deduped collision pairs, the
    * per-src degree-bounded out-edges, the symmetrized closure, and the
    * pinned hash-order entry point — consumed by both the search rung
    * ([[simKnngraphSql]]) and the graph health report
    * ([[knngraphStatsSql]]) so the graph is derived ONE way.
    */
  private val knnGraphCtes: String = {
    val S = llm.Similarity
    s"""pl AS (SELECT ${S.planeSigns.mkString("[", ", ", "]")} AS ps),
       |tb AS (SELECT unnest(range(0, ${S.NumTables})) AS t),
       |cb AS (
       |  SELECT c.vec_id, c.embedding, c.nrm, tb.t AS t,
       |         ${bucketExpr("c.embedding", "tb.t")} AS bucket
       |  FROM c, tb, pl),
       |ep AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |         ${cosine("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cos
       |  FROM cb a JOIN cb b ON a.t = b.t AND a.bucket = b.bucket
       |                     AND a.vec_id <> b.vec_id),
       |eo AS (
       |  SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos,
       |           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM ep) WHERE rn <= ${S.KnnDegree}),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM (SELECT DISTINCT src, dst, cos FROM (
       |      SELECT src, dst, cos FROM eo
       |      UNION ALL SELECT dst AS src, src AS dst, cos FROM eo)))
       |  WHERE rn <= ${2 * S.KnnDegree}),
       |en AS (SELECT vec_id, embedding, nrm FROM c WHERE vec_id % 10 <> 7
       |       ORDER BY (vec_id * ${S.CentroidHashMult}) % ${S.CentroidHashMod}, vec_id
       |       LIMIT 1)""".stripMargin
  }

  /** knngraphStats mirror: the shared graph chain, a left-join degree
    * histogram (0-degree nodes preserved), directed-edge and
    * reciprocity counts, and the unrolled [[llm.Similarity.BeamRounds]]
    * -round BFS reach from the pinned entry.
    */
  val knngraphStatsSql: String = {
    val S = llm.Similarity
    val rounds = (1 to S.BeamRounds).map { r =>
      s"""rv$r AS (SELECT DISTINCT cid FROM (
         |  SELECT cid FROM rv${r - 1}
         |  UNION ALL
         |  SELECT ed.dst AS cid FROM rv${r - 1} f JOIN edges ed ON ed.src = f.cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH $simBaseCtes,
       |$knnGraphCtes,
       |dg AS (
       |  SELECT c.vec_id, count(ed.dst) AS deg
       |  FROM c LEFT JOIN edges ed ON ed.src = c.vec_id GROUP BY c.vec_id),
       |hist AS (SELECT CAST(deg AS BIGINT) AS out_degree,
       |                CAST(count(*) AS BIGINT) AS n_nodes FROM dg GROUP BY deg),
       |st AS (SELECT (SELECT count(*) FROM eo) AS n_edges,
       |              (SELECT count(*) FROM eo a JOIN eo b
       |                 ON a.src = b.dst AND a.dst = b.src) AS n_recip,
       |              (SELECT count(*) FROM c) AS n_total),
       |rv0 AS (SELECT vec_id AS cid FROM en),
       |$rounds,
       |reach AS (SELECT count(*) AS n_reach FROM rv${S.BeamRounds})
       |SELECT h.out_degree AS out_degree, h.n_nodes AS n_nodes,
       |       CAST(st.n_edges AS BIGINT) AS n_edges_directed,
       |       CAST(st.n_recip * 1000000 // st.n_edges AS BIGINT) AS reciprocated_ppm,
       |       CAST(reach.n_reach AS BIGINT) AS entry_reach,
       |       CAST(st.n_total AS BIGINT) AS n_nodes_total
       |FROM hist h, st, reach ORDER BY out_degree""".stripMargin
  }

  val simKnngraphSql: String = {
    val S = llm.Similarity
    val head =
      s"""WITH $simBaseCtes,
         |$knnGraphCtes,
         |qb AS (
         |  SELECT q.qid, q.qv, q.qn, tb.t AS t,
         |         ${bucketExpr("q.qv", "tb.t")} AS bucket
         |  FROM q, tb, pl),
         |ss AS (
         |  SELECT DISTINCT qb.qid, cb.vec_id AS cid,
         |         ${cosine("qb.qv", "qb.qn", "cb.embedding", "cb.nrm")} AS cos
         |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
         |                 AND cb.vec_id <> qb.qid),
         |sd AS (
         |  SELECT qid, cid, cos FROM (
         |    SELECT qid, cid, cos,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |    FROM ss) WHERE rn <= ${S.SeedWidth}),
         |vs0 AS (
         |  SELECT DISTINCT qid, cid, cos FROM (
         |    SELECT q.qid, en.vec_id AS cid,
         |           ${cosine("q.qv", "q.qn", "en.embedding", "en.nrm")} AS cos
         |    FROM q, en
         |    UNION ALL SELECT qid, cid, cos FROM sd)),
         |bf0 AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |    FROM vs0) WHERE rn <= ${S.BeamWidth})""".stripMargin
    val rounds = (1 to S.BeamRounds).map { r =>
      val p = r - 1
      s"""cd$r AS (
         |  SELECT DISTINCT f.qid, ed.dst AS cid
         |  FROM bf$p f JOIN edges ed ON ed.src = f.cid),
         |sc$r AS (
         |  SELECT cr.qid, cr.cid,
         |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cos
         |  FROM cd$r cr JOIN q ON q.qid = cr.qid JOIN c ON c.vec_id = cr.cid
         |  WHERE NOT EXISTS (SELECT 1 FROM vs$p v
         |                    WHERE v.qid = cr.qid AND v.cid = cr.cid)),
         |bf$r AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |    FROM sc$r) WHERE rn <= ${S.BeamWidth}),
         |vs$r AS (SELECT * FROM vs$p UNION ALL SELECT qid, cid, cos FROM sc$r)""".stripMargin
    }
    val tail =
      s"""s AS (SELECT qid, cid, cos AS cosine FROM vs${S.BeamRounds} WHERE cid <> qid),
         |${rankRecallSelect(S.K)}""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** The ANN centroid-law CTE — [[llm.Similarity.centroidRowsOf]]'s
    * literal mirror: the pinned [[llm.Similarity.IvfCentroids]]-row
    * sample, smallest in the multiplicative-hash order over settled
    * (non-delta) ids. Shared by every IVF-family oracle so the model is
    * derived ONE way.
    */
  private val ivfCentsCte: String = {
    val S = llm.Similarity
    s"""cents AS (SELECT vec_id AS cent_id, embedding AS cv, nrm AS cn FROM c
       |          WHERE vec_id % 10 <> 7
       |          ORDER BY (vec_id * ${S.CentroidHashMult}) % ${S.CentroidHashMod}, vec_id
       |          LIMIT ${S.IvfCentroids})""".stripMargin
  }

  val simIvfSql: String =
    s"""WITH $simBaseCtes,
       |$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |qasg AS (
       |  SELECT qid, cent_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT q.qid, cents.cent_id,
       |          ${cosine("q.qv", "q.qn", "cents.cv", "cents.cn")} AS cs
       |        FROM q, cents)),
       |probes AS (SELECT qid, cent_id FROM qasg WHERE rn <= ${llm.Similarity.NumProbes}),
       |s AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN cells cl ON p.cent_id = cl.cent_id
       |  JOIN q ON q.qid = p.qid
       |  JOIN c ON c.vec_id = cl.vec_id
       |  WHERE c.vec_id <> q.qid),
       |${rankRecallSelect(llm.Similarity.K)}""".stripMargin

  /** annStats mirror: the full-corpus cell assignment (simIvfSql's
    * casg/cells), per-cell counts with empty centroids preserved via the
    * left join, and the integer share/imbalance arithmetic.
    */
  val annStatsSql: String =
    s"""WITH $simBaseCtes,
       |$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |pc AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs,
       |              CAST(sum(vec_id) AS BIGINT) AS sum_ids
       |       FROM cells GROUP BY cent_id),
       |fullc AS (
       |  SELECT ct.cent_id,
       |         coalesce(pc.n_vecs, 0) AS n_vecs,
       |         coalesce(pc.sum_ids, 0) AS sum_ids
       |  FROM cents ct LEFT JOIN pc ON pc.cent_id = ct.cent_id),
       |tot AS (SELECT sum(n_vecs) AS total, max(n_vecs) AS max_n,
       |               count(*) AS n_cells FROM fullc)
       |SELECT cent_id, n_vecs, sum_ids,
       |       CAST(n_vecs * 1000000 // total AS BIGINT) AS share_ppm,
       |       CAST(max_n * n_cells * 1000000 // total AS BIGINT) AS imbalance_ppm
       |FROM fullc, tot ORDER BY cent_id""".stripMargin

  /** annRebalance mirror: the annStats assignment chain, the
    * above-mean hot rule, min-id sub-centroid seeding, and the same
    * (max cosine, min id) re-assignment argmax; unsplit cells pass
    * through.
    */
  val annRebalanceSql: String =
    s"""WITH $simBaseCtes,
       |$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |st AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1),
       |tot AS (SELECT sum(n) AS total, count(*) AS n_cells FROM st),
       |hot AS (SELECT st.cent_id FROM st, tot WHERE st.n * tot.n_cells > tot.total),
       |subs AS (
       |  SELECT cent_id, vec_id AS sub_id FROM (
       |    SELECT cl.cent_id, cl.vec_id,
       |           row_number() OVER (PARTITION BY cl.cent_id ORDER BY cl.vec_id) AS rn
       |    FROM cells cl JOIN hot USING (cent_id))
       |  WHERE rn <= ${llm.Similarity.RebalanceSplit}),
       |reasg0 AS (
       |  SELECT cl.cent_id AS parent_cent_id, cl.vec_id, s.sub_id,
       |         ${cosine("cm.embedding", "cm.nrm", "cv2.embedding", "cv2.nrm")} AS cs
       |  FROM cells cl
       |  JOIN hot USING (cent_id)
       |  JOIN subs s ON s.cent_id = cl.cent_id
       |  JOIN c cm ON cm.vec_id = cl.vec_id
       |  JOIN c cv2 ON cv2.vec_id = s.sub_id),
       |reasg AS (
       |  SELECT parent_cent_id, vec_id, sub_id AS new_cent_id FROM (
       |    SELECT parent_cent_id, vec_id, sub_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, sub_id) AS rn
       |    FROM reasg0) WHERE rn = 1),
       |newcells AS (
       |  SELECT new_cent_id, parent_cent_id, vec_id FROM reasg
       |  UNION ALL
       |  SELECT cl.cent_id, cl.cent_id, cl.vec_id FROM cells cl
       |  WHERE cl.cent_id NOT IN (SELECT cent_id FROM hot))
       |SELECT CAST(new_cent_id AS BIGINT) AS new_cent_id,
       |       CAST(parent_cent_id AS BIGINT) AS parent_cent_id,
       |       CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(sum(vec_id) AS BIGINT) AS sum_ids
       |FROM newcells GROUP BY 1, 2 ORDER BY new_cent_id, parent_cent_id""".stripMargin

  /** curriculum mirror: the quality-filter feature CTE with doc_id +
    * source kept, the integer ppm score, a per-source ntile window with
    * the identical (score DESC, doc_id) total order, and the stage
    * rollup.
    */
  val curriculumSql: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH feats AS (
       |  SELECT doc_id, source,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |           t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source, n_tokens,
       |         coalesce(n_stop * 1000000 // nullif(n_tokens, 0), -1000000)
       |           - coalesce(n_punct * 1000000 // nullif(n_chars, 0), 0) AS score_ppm
       |  FROM feats),
       |staged AS (
       |  SELECT source, doc_id, n_tokens, score_ppm,
       |         CAST(ntile(${TextAnalysis.CurriculumStages})
       |           OVER (PARTITION BY source ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS stage
       |  FROM f)
       |SELECT source, stage,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |       CAST(max(score_ppm) AS BIGINT) AS best_ppm,
       |       CAST(min(score_ppm) AS BIGINT) AS worst_ppm,
       |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM staged GROUP BY source, stage ORDER BY source, stage""".stripMargin
  }

  /** ivfpq mirror: same coarse cells, double residuals, sample-residual
    * codebooks, per-subspace (d, bid) argmin encode, reconstruction
    * (centroid + codewords), ADC shortlist, and exact re-rank — every
    * float fold in the same index order as the Spark chain.
    */
  /** The shared IVF-PQ chain through the ADC shortlist — consumed by
    * [[simIvfpqSql]] (exact re-rank + recall on top) and
    * [[simPqServeSql]] (the catalog-served probe emits the shortlist
    * itself). Everything is re-derived from the embeddings table; the
    * engine's staged index/codebook must land on the same codes
    * (x_sim_ivfpq's green hash is the proof the build halves agree).
    */
  private def pqChainCtes(candFilter: String = ""): String = {
    val S = llm.Similarity
    val sd = S.PqSubDim
    s"""$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |res AS (
       |  SELECT c.vec_id, cl.cent_id,
       |         list_transform(range(1, 65), i ->
       |           CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)
       |             - CAST(ct.cv[CAST(i AS INT)] AS DOUBLE)) AS rv
       |  FROM c JOIN cells cl ON c.vec_id = cl.vec_id
       |         JOIN cents ct ON ct.cent_id = cl.cent_id),
       |books AS (SELECT vec_id AS bid, rv AS bv FROM res
       |          WHERE vec_id % ${S.PqSampleStride} = ${S.PqSampleOffset}
       |            AND vec_id NOT IN (SELECT cent_id FROM cents)
       |          ORDER BY (vec_id * ${S.CentroidHashMult}) % ${S.CentroidHashMod}, vec_id
       |          LIMIT ${S.PqBookSize}),
       |enc0 AS (
       |  SELECT res.vec_id, mm.m, books.bid,
       |         list_sum(list_transform(range(1, ${sd + 1}), i ->
       |           (rv[CAST(mm.m * $sd + i AS INT)] - bv[CAST(mm.m * $sd + i AS INT)])
       |           * (rv[CAST(mm.m * $sd + i AS INT)] - bv[CAST(mm.m * $sd + i AS INT)]))) AS d
       |  FROM res, (SELECT unnest(range(0, ${S.PqSubspaces})) AS m) mm, books),
       |enc1 AS (
       |  SELECT vec_id, m, bid,
       |         row_number() OVER (PARTITION BY vec_id, m ORDER BY d, bid) AS rn
       |  FROM enc0),
       |codes AS (SELECT vec_id, m, bid FROM enc1 WHERE rn = 1),
       |flr AS (
       |  SELECT codes.vec_id,
       |         flatten(list(list_transform(range(1, ${sd + 1}), i ->
       |           bv[CAST(codes.m * $sd + i AS INT)]) ORDER BY codes.m)) AS fl
       |  FROM codes JOIN books ON codes.bid = books.bid
       |  GROUP BY codes.vec_id),
       |rec AS (
       |  SELECT f.vec_id, cl.cent_id,
       |         list_transform(range(1, 65), i ->
       |           CAST(ct.cv[CAST(i AS INT)] AS DOUBLE) + f.fl[CAST(i AS INT)]) AS av
       |  FROM flr f JOIN cells cl ON f.vec_id = cl.vec_id
       |            JOIN cents ct ON ct.cent_id = cl.cent_id),
       |rn2 AS (
       |  SELECT vec_id, cent_id, av,
       |         sqrt(list_sum(list_transform(av, x -> x * x))) AS an
       |  FROM rec),
       |qasg AS (
       |  SELECT qid, cent_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT q.qid, cents.cent_id,
       |          ${cosine("q.qv", "q.qn", "cents.cv", "cents.cn")} AS cs
       |        FROM q, cents)),
       |probes AS (SELECT qid, cent_id FROM qasg WHERE rn <= ${S.NumProbes}),
       |sa0 AS (
       |  SELECT q.qid, r.vec_id AS cid,
       |         list_sum(list_transform(range(1, 65), i ->
       |           CAST(q.qv[CAST(i AS INT)] AS DOUBLE) * r.av[CAST(i AS INT)]))
       |           / (q.qn * r.an) AS sa
       |  FROM probes p JOIN rn2 r ON r.cent_id = p.cent_id
       |  JOIN q ON q.qid = p.qid
       |  WHERE r.vec_id <> q.qid$candFilter),
       |shortl AS (
       |  SELECT qid, cid, rn FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY sa DESC, cid) AS rn
       |    FROM sa0) WHERE rn <= ${S.PqRerank})""".stripMargin
  }

  /** ivfpq mirror (see [[pqChainCtes]]): exact re-rank of the shortlist
    * plus the recall grading.
    */
  val simIvfpqSql: String =
    s"""WITH $simBaseCtes,
       |${pqChainCtes()},
       |s AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM shortl JOIN q ON q.qid = shortl.qid
       |              JOIN c ON c.vec_id = shortl.cid),
       |${rankRecallSelect(llm.Similarity.K)}""".stripMargin

  /** pqServe mirror: the ADC shortlist itself, ranked — what the
    * catalog-served SQL probe must reproduce from the PERSISTED index.
    */
  val simPqServeSql: String =
    s"""WITH $simBaseCtes,
       |${pqChainCtes()}
       |SELECT qid, CAST(rn AS BIGINT) AS rank, cid
       |FROM shortl ORDER BY qid, rank""".stripMargin

  /** filteredPqServe mirror: the identical PQ chain with the label
    * predicate applied to the ADC candidates — the quantized filtered
    * probe must re-rank among the label class exactly as the
    * from-scratch formulation does.
    */
  val simFilteredPqSql: String =
    s"""WITH $simBaseCtes,
       |${pqChainCtes(" AND r.vec_id IN (SELECT vec_id FROM embeddings " +
          s"WHERE CAST(label AS BIGINT) = ${graft.queries.AnnServe.FilterLabel})")}
       |SELECT qid, CAST(rn AS BIGINT) AS rank, cid
       |FROM shortl ORDER BY qid, rank""".stripMargin

  /** annDelete mirror: the identical chain with the deletion set
    * excluded from the ADC candidates — the purged index must re-rank
    * among survivors exactly as the from-scratch formulation does.
    */
  val annDeleteSql: String =
    s"""WITH $simBaseCtes,
       |${pqChainCtes(s" AND r.vec_id % ${graft.queries.AnnServe.DeleteMod} <> " +
          s"${graft.queries.AnnServe.DeleteRem}")}
       |SELECT qid, CAST(rn AS BIGINT) AS rank, cid
       |FROM shortl ORDER BY qid, rank""".stripMargin

  /** simIncr mirror: the FULL IVF re-index formulation over the whole
    * corpus — the incremental base+delta append must equal it value for
    * value (the X-INCR-AGG / X-DEDUP-INCR proof structure) — plus the
    * per-query `delta_hits` freshness count.
    */
  val simIncrSql: String =
    s"""WITH $simBaseCtes,
       |$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |qasg AS (
       |  SELECT qid, cent_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT q.qid, cents.cent_id,
       |          ${cosine("q.qv", "q.qn", "cents.cv", "cents.cn")} AS cs
       |        FROM q, cents)),
       |probes AS (SELECT qid, cent_id FROM qasg WHERE rn <= ${llm.Similarity.NumProbes}),
       |s AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN cells cl ON p.cent_id = cl.cent_id
       |  JOIN q ON q.qid = p.qid
       |  JOIN c ON c.vec_id = cl.vec_id
       |  WHERE c.vec_id <> q.qid),
       |r AS (
       |  SELECT qid, cid, cosine,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cosine DESC, cid) AS BIGINT) AS rank
       |  FROM s),
       |ann AS (SELECT qid, rank, cid, cosine FROM r WHERE rank <= ${llm.Similarity.K}),
       |dh AS (
       |  SELECT qid, CAST(count(*) AS BIGINT) AS delta_hits
       |  FROM ann WHERE cid % 10 = 7 GROUP BY qid)
       |SELECT ann.qid AS qid, ann.rank AS rank, ann.cid AS cid,
       |       round(ann.cosine, 6) AS cosine,
       |       CAST(coalesce(dh.delta_hits, 0) AS BIGINT) AS delta_hits
       |FROM ann LEFT JOIN dh ON ann.qid = dh.qid
       |ORDER BY ann.qid, ann.rank""".stripMargin

  /** simFiltered mirror: the IVF cell assignment + probes re-derived
    * from the embeddings parquet (the staged ivf_flat index must land on
    * the same cells — [[simIvfSql]]'s proof structure), the `label`
    * predicate applied as a plain WHERE on the candidate set
    * (prefilter) and after the unfiltered top-k (postfilter), and both
    * strategies graded against the label-restricted brute truth.
    */
  val simFilteredSql: String = {
    val S = llm.Similarity
    val k = S.K
    val lab = graft.queries.AnnServe.FilterLabel
    s"""WITH e AS (
       |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
       |         sqrt(list_sum(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT * FROM e WHERE nrm > 0),
       |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM c
       |      WHERE vec_id % ${S.QueryStride} = 0),
       |$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |qasg AS (
       |  SELECT qid, cent_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT q.qid, cents.cent_id,
       |          ${cosine("q.qv", "q.qn", "cents.cv", "cents.cn")} AS cs
       |        FROM q, cents)),
       |probes AS (SELECT qid, cent_id FROM qasg WHERE rn <= ${S.NumProbes}),
       |sf0 AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN cells cl ON p.cent_id = cl.cent_id
       |  JOIN q ON q.qid = p.qid
       |  JOIN c ON c.vec_id = cl.vec_id
       |  WHERE c.label = $lab AND c.vec_id <> q.qid),
       |pre AS (
       |  SELECT qid, cid, cosine,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cosine DESC, cid) AS rank
       |  FROM sf0),
       |su AS (
       |  SELECT q.qid, c.vec_id AS cid, c.label,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN cells cl ON p.cent_id = cl.cent_id
       |  JOIN q ON q.qid = p.qid
       |  JOIN c ON c.vec_id = cl.vec_id
       |  WHERE c.vec_id <> q.qid),
       |post0 AS (
       |  SELECT qid, cid, label, cosine,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cosine DESC, cid) AS rn
       |  FROM su),
       |post AS (
       |  SELECT qid, cid, cosine,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cosine DESC, cid) AS rank
       |  FROM post0 WHERE rn <= $k AND label = $lab),
       |bt AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.vec_id AS cid,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY
       |             ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} DESC,
       |             c.vec_id) AS rank
       |    FROM c, q WHERE c.label = $lab AND c.vec_id <> q.qid)
       |  WHERE rank <= $k),
       |ann AS (
       |  SELECT 'prefilter' AS strategy, qid, rank, cid, cosine
       |  FROM pre WHERE rank <= $k
       |  UNION ALL
       |  SELECT 'postfilter' AS strategy, qid, rank, cid, cosine FROM post),
       |h AS (
       |  SELECT a.strategy, a.qid, count(*) AS hits
       |  FROM ann a JOIN bt ON a.qid = bt.qid AND a.cid = bt.cid
       |  GROUP BY a.strategy, a.qid)
       |SELECT a.strategy AS strategy, a.qid AS qid,
       |       CAST(a.rank AS BIGINT) AS rank, a.cid AS cid,
       |       round(a.cosine, 6) AS cosine,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS recall_hits
       |FROM ann a LEFT JOIN h ON a.strategy = h.strategy AND a.qid = h.qid
       |ORDER BY strategy, qid, rank""".stripMargin
  }

  /** rankMetrics mirror: each rung's published oracle query embedded
    * VERBATIM as a derived table (so the graded lists are the EXACT
    * lists the per-rung correctness rows already verify — any drift
    * between a rung and its oracle shows up here twice), brute truth
    * re-derived from the shared c/q CTEs, and the fixed-point metric
    * math (driver-precomputed log-weight literals, integer division)
    * identical to the Spark side. Declared after the rung SQL vals it
    * embeds — object init order matters here.
    */
  val rankMetricsSql: String = {
    val k = llm.Similarity.K
    val w = llm.Similarity.NdcgWeightsPpb.mkString("[", ", ", "]")
    val idcg = llm.Similarity.NdcgIdealPpb
    s"""WITH $simBaseCtes,
       |bs AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM c, q WHERE c.vec_id <> q.qid),
       |truth AS (
       |  SELECT qid, cid, rank FROM (
       |    SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid
       |             ORDER BY cosine DESC, cid) AS BIGINT) AS rank
       |    FROM bs) WHERE rank <= $k),
       |allq AS (SELECT DISTINCT qid FROM truth),
       |rungs AS (SELECT unnest(['brute', 'ivf', 'ivfpq', 'knngraph', 'lsh', 'multiprobe', 'rrf']) AS rung),
       |ann AS (
       |  SELECT 'brute' AS rung, qid, rank, cid FROM truth
       |  UNION ALL SELECT 'ivf', qid, rank, cid FROM ($simIvfSql)
       |  UNION ALL SELECT 'ivfpq', qid, rank, cid FROM ($simIvfpqSql)
       |  UNION ALL SELECT 'knngraph', qid, rank, cid FROM ($simKnngraphSql)
       |  UNION ALL SELECT 'lsh', qid, rank, cid FROM ($simLshSql)
       |  UNION ALL SELECT 'multiprobe', qid, rank, cid FROM ($simMultiprobeSql)
       |  UNION ALL SELECT 'rrf', qid, rank, cid FROM ($rrfSql)),
       |wt AS (SELECT $w AS w),
       |h AS (
       |  SELECT a.rung, a.qid, a.rank, wt.w[CAST(a.rank AS INT)] AS w_ppb
       |  FROM ann a, truth t, wt
       |  WHERE a.qid = t.qid AND a.cid = t.cid),
       |pq AS (
       |  SELECT r.rung, q2.qid,
       |         CAST(count(h.rank) AS BIGINT) AS hits,
       |         coalesce(CAST(1000000 AS BIGINT) // min(h.rank), 0) AS rr_ppm,
       |         coalesce(CAST(sum(h.w_ppb) AS BIGINT) * 1000000 // $idcg, 0) AS ndcg_q_ppm
       |  FROM rungs r CROSS JOIN allq q2
       |  LEFT JOIN h ON h.rung = r.rung AND h.qid = q2.qid
       |  GROUP BY r.rung, q2.qid)
       |SELECT rung, CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(sum(hits) AS BIGINT) AS hits_total,
       |       CAST(1000000 * sum(hits) // (count(*) * $k) AS BIGINT) AS recall_ppm,
       |       CAST(sum(rr_ppm) // count(*) AS BIGINT) AS mrr_ppm,
       |       CAST(sum(ndcg_q_ppm) // count(*) AS BIGINT) AS ndcg_ppm
       |FROM pq GROUP BY rung ORDER BY rung""".stripMargin
  }

  /** fakeDecode mirror: the payload is the UTF-8 encoding of `text`, and
    * the fixture is ASCII (asserted in ScalaTest), so bytes == codepoints.
    */
  val mmFeaturesSql: String =
    s"""WITH cc AS (
       |  SELECT doc_id, ${cps("text")} AS cs, length(text) AS n FROM documents)
       |SELECT doc_id,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
       |         (ac, cb) -> (ac * 131 + cb) % 1000003) AS checksum,
       |       round(CAST(len(list_filter(cs, c -> c % 8 = 0)) AS DOUBLE) / greatest(n, 1), 6) AS f0,
       |       round(CAST(len(list_filter(cs, c -> c % 8 = 1)) AS DOUBLE) / greatest(n, 1), 6) AS f1
       |FROM cc ORDER BY doc_id""".stripMargin

  /** cooccur mirror: same tokenizer, same df·4 ≥ N gate, same exact
    * integer association score (`//` is DuckDB floor division = Spark's
    * `div` on the all-positive operands here).
    */
  val cooccurSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))) AS t
       |  FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY t),
       |kept AS (
       |  SELECT tok.doc_id, tok.t, dfreq.df
       |  FROM tok JOIN dfreq ON dfreq.t = tok.t CROSS JOIN nd
       |  WHERE dfreq.df * ${TextAnalysis.CooccurMinDfTimes4} >= nd.n_docs),
       |p AS (
       |  SELECT a.t AS ta, a.df AS c_x, b.t AS tb, b.df AS c_y,
       |         CAST(count(*) AS BIGINT) AS c_xy
       |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.t < b.t
       |  GROUP BY 1, 2, 3, 4)
       |SELECT ta, tb, c_xy, c_x, c_y,
       |       CAST((c_xy * nd.n_docs * 1000000) // (c_x * c_y) AS BIGINT) AS score
       |FROM p CROSS JOIN nd
       |ORDER BY score DESC, ta, tb LIMIT 30""".stripMargin

  /** Shared Gopher-feature CTE: per-doc token count, summed token length,
    * stopword occurrences, trigram occurrence/distinct counts — the
    * repNgram/gopherRules mirror of `gopherFeatures`.
    */
  private val gopherCte: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""f AS (
       |  SELECT source,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT source,
       |         CAST(len(toks) AS BIGINT) AS n_tok,
       |         -- coalesce: DuckDB's list_sum([]) is NULL where Spark's
       |         -- aggregate(..., 0L, _+_) fold is 0 — an empty doc must
       |         -- not diverge the mean-word-length rule between engines
       |         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_len,
       |         CAST(len(list_filter(toks, t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS BIGINT) AS n_tri,
       |         CAST(CASE WHEN len(toks) >= 3 THEN
       |           len(list_distinct(list_transform(range(1, len(toks) - 1),
       |             i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)])))
       |         ELSE 0 END AS BIGINT) AS n_tri_d
       |  FROM f)""".stripMargin
  }

  val repNgramSql: String =
    s"""WITH $gopherCte
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tri - n_tri_d) AS BIGINT) AS dup_occ,
       |       CAST(sum(n_tri) AS BIGINT) AS tri_occ,
       |       CAST(sum(CASE WHEN (n_tri - n_tri_d) * ${TextAnalysis.GopherRepTimes} > n_tri
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       |       CAST(sum(n_tri - n_tri_d) AS DOUBLE) / CAST(sum(n_tri) AS DOUBLE) AS rep_rate
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  val gopherRulesSql: String = {
    import TextAnalysis._
    val wcOk = s"(n_tok >= $GopherMinTokens AND n_tok <= $GopherMaxTokens)"
    val mwlOk = s"(sum_len >= n_tok * $GopherMinMeanLen AND sum_len <= n_tok * $GopherMaxMeanLen)"
    val stopOk = s"(n_stop >= $GopherMinStopwords)"
    val repOk = s"((n_tri - n_tri_d) * $GopherRepTimes <= n_tri)"
    def fails(ok: String) = s"CAST(sum(CASE WHEN $ok THEN 0 ELSE 1 END) AS BIGINT)"
    s"""WITH $gopherCte
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       ${fails(wcOk)} AS n_fail_wordcount,
       |       ${fails(mwlOk)} AS n_fail_wordlen,
       |       ${fails(stopOk)} AS n_fail_stopwords,
       |       ${fails(repOk)} AS n_fail_repetition,
       |       CAST(sum(CASE WHEN $wcOk AND $mwlOk AND $stopOk AND $repOk
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |FROM g GROUP BY source ORDER BY source""".stripMargin
  }

  /** triangles mirror: same degree orientation and wedge closure over the
    * banded candidate graph (`cand` — un-thresholded by design).
    */
  val trianglesSql: String =
    s"""WITH $sigCtes, $pairCtes,
       |e AS (SELECT id_a, id_b FROM cand),
       |und AS (SELECT id_a AS u FROM e UNION ALL SELECT id_b FROM e),
       |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
       |o AS (
       |  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.id_a < e.id_b)
       |              THEN e.id_a ELSE e.id_b END AS s,
       |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.id_a < e.id_b)
       |              THEN e.id_b ELSE e.id_a END AS t
       |  FROM e JOIN deg da ON da.id = e.id_a JOIN deg db ON db.id = e.id_b),
       |wdg AS (SELECT x.t AS v, y.t AS w FROM o x JOIN o y ON x.s = y.s AND x.t < y.t)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM wdg) AS n_wedges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM wdg
       |        JOIN e ON e.id_a = wdg.v AND e.id_b = wdg.w) AS n_triangles""".stripMargin

  /** fuzzyJoin mirror: same deterministic typo model, same 2-gram
    * banding, same Levenshtein metric (DuckDB and Spark both compute
    * unit-cost edit distance), same (distance, token) best-match order.
    */
  val fuzzyJoinSql: String = {
    def bigrams(expr: String): String =
      s"list_distinct(list_transform(range(1, length($expr)), bi -> substr($expr, CAST(bi AS INT), 2)))"
    s"""WITH tok AS (
       |  SELECT DISTINCT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token
       |  FROM documents),
       |v AS (SELECT token FROM tok WHERE length(token) >= 4),
       |d AS (
       |  SELECT DISTINCT
       |    substr(token, 1, (length(token) % 3 + 1) - 1)
       |      || substr(token, (length(token) % 3 + 1) + 1,
       |                length(token) - (length(token) % 3 + 1)) AS variant
       |  FROM v),
       |dg AS (SELECT variant, unnest(${bigrams("variant")}) AS g FROM d),
       |vg AS (SELECT token, unnest(${bigrams("token")}) AS g FROM v),
       |c AS (SELECT DISTINCT dg.variant, vg.token FROM dg JOIN vg USING (g)),
       |cl AS (SELECT variant, token,
       |              CAST(levenshtein(variant, token) AS BIGINT) AS lev FROM c),
       |nc AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_cands FROM cl GROUP BY variant),
       |b AS (SELECT variant, token, lev,
       |             row_number() OVER (PARTITION BY variant ORDER BY lev, token) AS rn
       |      FROM cl WHERE lev <= 1)
       |SELECT b.variant, nc.n_cands, b.token AS best_token, b.lev
       |FROM b JOIN nc USING (variant) WHERE rn = 1 ORDER BY variant""".stripMargin
  }

  /** globalIds mirror: the single-partition window formulation the
    * range-partition + partition-offset implementation must equal.
    */
  val globalIdsSql: String =
    s"""WITH sf AS (
       |  SELECT source, doc_id, ${signed64(hash64u("text"))} AS fp FROM documents),
       |r AS (SELECT source, doc_id,
       |             CAST(row_number() OVER (ORDER BY fp, doc_id) - 1 AS BIGINT) AS id
       |      FROM sf)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       min(id) AS min_id, max(id) AS max_id,
       |       CAST(sum(id) AS BIGINT) AS sum_id,
       |       CAST(sum(id * doc_id) AS BIGINT) AS id_checksum
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** sampleTopK mirror: the window formulation of per-key top-k — the
    * semantics TopKPerKey's bounded-heap physical plan must reproduce.
    */
  val sampleTopKSql: String =
    s"""WITH sf AS (
       |  SELECT source, doc_id, ${signed64(hash64u("text"))} AS fp FROM documents),
       |r AS (
       |  SELECT source, doc_id, fp,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY fp, doc_id) AS BIGINT) AS "rank"
       |  FROM sf)
       |SELECT source, "rank", doc_id, fp FROM r
       |WHERE "rank" <= ${llm.Sampling.SamplePerKey}
       |ORDER BY source, "rank"""".stripMargin

  /** lshRecall mirror: same shingle CTEs, same df-capped truth index
    * with the exact-integer threshold, same banded candidate set; the
    * scalars are correlated subqueries so an empty truth set still
    * yields the one metrics row (recall pinned 1.0).
    */
  val lshRecallSql: String =
    s"""WITH $sigCtes, $pairCtes,
       |h2 AS (SELECT doc_id, unnest(hs) AS h FROM hs),
       |okh AS (SELECT h FROM h2 GROUP BY h
       |        HAVING count(*) >= 2 AND count(*) <= ${Dedup.ShingleDfCap}),
       |i2 AS (SELECT doc_id, h FROM h2 JOIN okh USING (h)),
       |cnts AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS nsh FROM hs WHERE len(hs) > 0),
       |truth AS (
       |  SELECT s.id_a, s.id_b
       |  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |               CAST(count(*) AS BIGINT) AS shared
       |        FROM i2 a JOIN i2 b ON a.h = b.h AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) s
       |  JOIN cnts ca ON ca.doc_id = s.id_a
       |  JOIN cnts cb ON cb.doc_id = s.id_b
       |  WHERE s.shared * 3 >= ca.nsh + cb.nsh),
       |mk AS (
       |  SELECT t.id_a, t.id_b,
       |         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
       |  FROM truth t LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM mk) AS n_true,
       |       (SELECT CAST(coalesce(sum(caught), 0) AS BIGINT) FROM mk) AS n_caught,
       |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_lsh_cand,
       |       CASE WHEN (SELECT count(*) FROM mk) = 0 THEN 1.0
       |            ELSE CAST((SELECT sum(caught) FROM mk) AS DOUBLE)
       |               / CAST((SELECT count(*) FROM mk) AS DOUBLE) END AS recall""".stripMargin

  /** pipeline mirror: the same stage semantics composed from the same
    * mirrored fragments (quality predicate, min-doc_id exact dedup,
    * ≥-threshold banded near-dup drop, (fp, doc_id)-ordered budget).
    */
  val pipelineSql: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    def stage(label: String, rel: String): String =
      s"""SELECT '$label' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM $rel""".stripMargin
    s"""WITH $sigCtes, $pairCtes,
       |f AS (
       |  SELECT doc_id, source, text,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         ${wsTokens("text")} AS n_tokens,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |           t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |  FROM documents),
       |s1 AS (
       |  SELECT * FROM f
       |  WHERE n_tokens >= 20 AND n_tokens <= 2000
       |    AND CAST(n_stop AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.5
       |    AND CAST(n_punct AS DOUBLE) <= CAST(n_chars AS DOUBLE) * 0.1),
       |ek AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY text),
       |s2 AS (SELECT s1.* FROM s1 JOIN ek USING (doc_id)),
       |dn AS (
       |  SELECT DISTINCT id_b AS doc_id FROM mh
       |  WHERE est_jaccard >= ${Dedup.NearDupThreshold}
       |    AND id_a IN (SELECT doc_id FROM s2)
       |    AND id_b IN (SELECT doc_id FROM s2)),
       |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM dn)),
       |r AS (
       |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
       |  FROM (SELECT s3.*, ${signed64(hash64u("text"))} AS fp FROM s3) q),
       |s4 AS (SELECT * FROM r WHERE running <= ${llm.Sampling.TokenBudget})
       |SELECT stage, n_docs, n_tokens FROM (
       |  ${stage("0_raw", "f")}
       |  UNION ALL ${stage("1_quality", "s1")}
       |  UNION ALL ${stage("2_exact_dedup", "s2")}
       |  UNION ALL ${stage("3_near_dedup", "s3")}
       |  UNION ALL ${stage("4_token_budget", "s4")}) t
       |ORDER BY stage""".stripMargin
  }

  /** dupSpans mirror: same 8-gram windows (1-based positions), same
    * 64-bit rolling hash, same ≥2-distinct-docs filter and
    * gaps-and-islands span merge.
    */
  val dupSpansSql: String = {
    val n = Dedup.SpanGramN
    s"""WITH f AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}), gi ->
       |    struct_pack(pos := gi,
       |      g := array_to_string(toks[CAST(gi AS INT):CAST(gi + ${n - 1} AS INT)], ' ')))) AS u
       |  FROM f WHERE len(toks) >= $n),
       |g1 AS (
       |  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
       |         ${signed64(hash64u("u.g"))} AS gh
       |  FROM g0),
       |dh AS (SELECT gh FROM g1 GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT g1.doc_id, g1.pos FROM g1 JOIN dh USING (gh)),
       |i0 AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                > ${Dedup.SpanMergeGap} THEN 1 ELSE 0 END AS brk
       |  FROM dp),
       |i1 AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM i0),
       |sp AS (
       |  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(max(pos) - min(pos) + $n AS BIGINT) AS span_tokens
       |  FROM i1 GROUP BY doc_id, grp)
       |SELECT doc_id,
       |       CAST(sum(n_grams) AS BIGINT) AS n_dup_ngrams,
       |       CAST(count(*) AS BIGINT) AS n_spans,
       |       CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
       |       CAST(sum(span_tokens) AS BIGINT) AS covered_tokens
       |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** dupSpansCut mirror: same dup-gram inverted index with the
    * min-doc_id keeper rule, same island merge, then the token-level cut
    * and space-joined reassembly re-derived in SQL; untouched docs pass
    * original text through so `chars_after` pins the excision exactly.
    */
  val dupSpansCutSql: String = {
    val n = Dedup.SpanGramN
    s"""WITH f AS (
       |  SELECT doc_id, source, text,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}), gi ->
       |    struct_pack(pos := gi,
       |      g := array_to_string(toks[CAST(gi AS INT):CAST(gi + ${n - 1} AS INT)], ' ')))) AS u
       |  FROM f WHERE len(toks) >= $n),
       |g1 AS (
       |  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
       |         ${signed64(hash64u("u.g"))} AS gh
       |  FROM g0),
       |dh AS (
       |  SELECT gh, min(doc_id) AS keeper FROM g1
       |  GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (
       |  SELECT g1.doc_id, g1.pos FROM g1 JOIN dh USING (gh)
       |  WHERE g1.doc_id <> dh.keeper),
       |i0 AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                > ${Dedup.SpanMergeGap} THEN 1 ELSE 0 END AS brk
       |  FROM dp),
       |i1 AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM i0),
       |sp AS (
       |  SELECT doc_id, min(pos) AS s, max(pos) + ${n - 1} AS e
       |  FROM i1 GROUP BY doc_id, grp),
       |iv AS (
       |  SELECT doc_id, list(struct_pack(s := s, e := e)) AS ivs,
       |         CAST(sum(e - s + 1) AS BIGINT) AS cut_tokens
       |  FROM sp GROUP BY doc_id),
       |c AS (
       |  SELECT f.source,
       |         CASE WHEN iv.doc_id IS NULL THEN f.text
       |              ELSE array_to_string(list_transform(
       |                list_filter(range(1, len(f.toks) + 1),
       |                  p -> len(list_filter(iv.ivs, v -> p >= v.s AND p <= v.e)) = 0),
       |                p -> f.toks[CAST(p AS INT)]), ' ')
       |         END AS clean_text,
       |         CAST(len(f.toks) AS BIGINT) AS n_toks,
       |         coalesce(iv.cut_tokens, CAST(0 AS BIGINT)) AS cut_tokens,
       |         iv.doc_id IS NOT NULL AS was_cut
       |  FROM f LEFT JOIN iv ON f.doc_id = iv.doc_id)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN was_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_cut,
       |       CAST(sum(n_toks) AS BIGINT) AS tokens_before,
       |       CAST(sum(cut_tokens) AS BIGINT) AS tokens_removed,
       |       CAST(sum(length(clean_text)) AS BIGINT) AS chars_after
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  /** kmv mirror: identical 31-bit poly hash over the id's decimal
    * string, sketches as k-smallest order statistics via windows, the
    * estimator CASE reproduced verbatim.
    */
  val kmvSql: String = {
    val k = llm.Events.KmvK
    val est = s"""CASE WHEN max(cnt) <= $k THEN CAST(max(cnt) AS DOUBLE)
       |         ELSE CAST(${(k - 1).toLong * PolyHashing.Mod} AS DOUBLE)
       |           / CAST(max(h) AS DOUBLE) END""".stripMargin
    s"""WITH uh AS (
       |  SELECT DISTINCT event_type,
       |         ${polyHash("CAST(user_id AS VARCHAR)", llm.Events.KmvBase)} AS h
       |  FROM events),
       |r AS (
       |  SELECT event_type, h,
       |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS rn,
       |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
       |  FROM uh),
       |sk AS (SELECT * FROM r WHERE rn <= $k),
       |st AS (
       |  SELECT event_type, $est AS est_distinct
       |  FROM sk GROUP BY event_type),
       |pt AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM st a, st b WHERE a.event_type < b.event_type),
       |v0 AS (
       |  SELECT pt.type_a, pt.type_b, sk.h,
       |         CAST(1 AS BIGINT) AS in_a, CAST(0 AS BIGINT) AS in_b
       |  FROM pt JOIN sk ON sk.event_type = pt.type_a
       |  UNION ALL
       |  SELECT pt.type_a, pt.type_b, sk.h,
       |         CAST(0 AS BIGINT), CAST(1 AS BIGINT)
       |  FROM pt JOIN sk ON sk.event_type = pt.type_b),
       |v1 AS (
       |  SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b
       |  FROM v0 GROUP BY type_a, type_b, h),
       |v2 AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY type_a, type_b
       |    ORDER BY h) AS BIGINT) AS urn
       |  FROM v1),
       |p AS (
       |  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS l_size,
       |         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
       |  FROM v2 WHERE urn <= $k GROUP BY type_a, type_b)
       |SELECT p.type_a, p.type_b, p.l_size, p.n_both,
       |       CAST(p.n_both AS DOUBLE) / CAST(p.l_size AS DOUBLE) AS jaccard_est,
       |       sa.est_distinct AS est_a, sb.est_distinct AS est_b
       |FROM p
       |JOIN st sa ON sa.event_type = p.type_a
       |JOIN st sb ON sb.event_type = p.type_b
       |ORDER BY type_a, type_b""".stripMargin
  }

  /** X-ATTRIB-LAST mirror: same fill-down (last touch over preceding
    * rows, IGNORE NULLS) with the identical (ts, event_id) tie-break and
    * lookback predicate; the µs truncation happens in the base CTE so
    * the window orders on the precision the engine compares.
    */
  val attribLastSql: String = {
    val d = llm.Attribution.LookbackDays
    s"""WITH b AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |f AS (
       |  SELECT *, last_value(CASE WHEN event_type IN ('click', 'view') THEN
       |           {'ts': ts, 'event_id': event_id, 'et': event_type} END IGNORE NULLS)
       |         OVER (PARTITION BY user_id ORDER BY ts, event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t
       |  FROM b),
       |conv AS (
       |  SELECT CASE WHEN t IS NOT NULL AND t.ts > ts - INTERVAL $d DAY
       |              THEN t.et ELSE 'none' END AS channel,
       |         cents, user_id
       |  FROM f WHERE event_type = 'purchase')
       |SELECT channel, CAST(count(*) AS BIGINT) AS n_conv,
       |       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM conv GROUP BY channel ORDER BY channel""".stripMargin
  }

  /** X-ATTRIB-POS mirror: identical U-shaped ppm split (integer div +
    * earliest-middle remainder) and exact cents allocation (floor share
    * + shortfall cents to the earliest touches).
    */
  val attribPosSql: String = {
    val d = llm.Attribution.LookbackDays
    s"""WITH b AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |conv AS (SELECT user_id AS cu, ts AS cts, event_id AS cid, cents
       |         FROM b WHERE event_type = 'purchase'),
       |tch AS (SELECT user_id AS tu, ts, event_id, event_type
       |        FROM b WHERE event_type IN ('click', 'view')),
       |pairs AS (
       |  SELECT c.cid, c.cents, t.event_type, t.event_id,
       |         row_number() OVER (PARTITION BY c.cid ORDER BY t.ts, t.event_id) AS rn,
       |         count(t.event_id) OVER (PARTITION BY c.cid) AS k
       |  FROM conv c LEFT JOIN tch t ON c.cu = t.tu
       |    AND (t.ts < c.cts OR (t.ts = c.cts AND t.event_id < c.cid))
       |    AND t.ts > c.cts - INTERVAL $d DAY),
       |ppm AS (
       |  SELECT *, CASE WHEN k <= 1 THEN 1000000
       |                 WHEN k = 2 THEN 500000
       |                 WHEN rn = 1 OR rn = k THEN 400000
       |                 ELSE 200000 // (k - 2)
       |                      + CASE WHEN rn - 1 <= 200000 % (k - 2) THEN 1 ELSE 0 END
       |            END AS ppm
       |  FROM pairs),
       |cc AS (
       |  SELECT *, cents * ppm // 1000000 AS base_cents,
       |         cents - sum(cents * ppm // 1000000) OVER (PARTITION BY cid) AS short
       |  FROM ppm)
       |SELECT coalesce(event_type, 'none') AS channel,
       |       CAST(sum(ppm) AS BIGINT) AS credit_ppm,
       |       CAST(sum(base_cents + CASE WHEN rn <= short THEN 1 ELSE 0 END) AS BIGINT)
       |         AS credit_cents,
       |       CAST(count(event_id) AS BIGINT) AS n_touches
       |FROM cc GROUP BY channel ORDER BY channel""".stripMargin
  }

  /** X-ATTRIB-DECAY mirror: identical power-of-two weights, pro-rata
    * integer ppm with remainder to the most recent touches, and the same
    * shortfall-cents rule.
    */
  val attribDecaySql: String = {
    val d = llm.Attribution.LookbackDays
    val half = llm.Attribution.DecayHalfLifeUs
    val cap = llm.Attribution.DecayCapHalfLives
    s"""WITH b AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |conv AS (SELECT user_id AS cu, ts AS cts, event_id AS cid, cents
       |         FROM b WHERE event_type = 'purchase'),
       |tch AS (SELECT user_id AS tu, ts, event_id, event_type
       |        FROM b WHERE event_type IN ('click', 'view')),
       |pairs AS (
       |  SELECT c.cid, c.cents, t.event_type, t.event_id,
       |         CASE WHEN t.event_id IS NULL THEN 0
       |              ELSE (CAST(1 AS BIGINT) << ($cap - CAST(least(
       |                (epoch_us(c.cts) - epoch_us(t.ts)) // $half, $cap) AS INT)))
       |         END AS w,
       |         row_number() OVER (PARTITION BY c.cid
       |           ORDER BY t.ts DESC, t.event_id DESC) AS rrn
       |  FROM conv c LEFT JOIN tch t ON c.cu = t.tu
       |    AND (t.ts < c.cts OR (t.ts = c.cts AND t.event_id < c.cid))
       |    AND t.ts > c.cts - INTERVAL $d DAY),
       |tw AS (SELECT *, sum(w) OVER (PARTITION BY cid) AS tw FROM pairs),
       |p1 AS (
       |  SELECT *, CASE WHEN tw = 0 THEN 1000000 ELSE 1000000 * w // tw END AS fp
       |  FROM tw),
       |p2 AS (SELECT *, fp + CASE WHEN rrn <=
       |         1000000 - sum(fp) OVER (PARTITION BY cid) THEN 1 ELSE 0 END AS ppm
       |       FROM p1),
       |cc AS (
       |  SELECT *, cents * ppm // 1000000 AS base_cents,
       |         cents - sum(cents * ppm // 1000000) OVER (PARTITION BY cid) AS short
       |  FROM p2)
       |SELECT coalesce(event_type, 'none') AS channel,
       |       CAST(sum(ppm) AS BIGINT) AS credit_ppm,
       |       CAST(sum(base_cents + CASE WHEN rrn <= short THEN 1 ELSE 0 END) AS BIGINT)
       |         AS credit_cents,
       |       CAST(count(event_id) AS BIGINT) AS n_touches
       |FROM cc GROUP BY channel ORDER BY channel""".stripMargin
  }

  /** X-INTERVAL-MERGE mirror: running max(end) over preceding rows with
    * the same (us, event_id) tie-break, boundary flag, running-sum
    * island id — all epoch-micros BIGINT.
    */
  val intervalMergeSql: String = {
    val iv = llm.Attribution.ActivityIntervalUs
    s"""WITH b AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
       |  FROM events),
       |w AS (
       |  SELECT user_id, us, event_id, us + $iv AS en,
       |         max(us + $iv) OVER (PARTITION BY user_id ORDER BY us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM b),
       |fl AS (
       |  SELECT user_id, us, event_id, en,
       |         CASE WHEN prev_end IS NULL OR us >= prev_end THEN 1 ELSE 0 END AS ni
       |  FROM w),
       |isl AS (
       |  -- island-id order must end in event_id: a timestamp tie at an
       |  -- island boundary carries flags (1,0), and an ambiguous order
       |  -- could put the 0-row before the 1-row, re-homing it into the
       |  -- previous island
       |  SELECT user_id, us, en,
       |         sum(ni) OVER (PARTITION BY user_id ORDER BY us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
       |  FROM fl),
       |g AS (SELECT user_id, isl_id, min(us) AS s, max(en) AS e,
       |             count(*) AS n
       |      FROM isl GROUP BY user_id, isl_id)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
       |       CAST(sum(e - s) AS BIGINT) AS covered_us,
       |       CAST(max(e - s) AS BIGINT) AS longest_us,
       |       CAST(sum(n) AS BIGINT) AS n_events
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** X-FREQ-CAP mirror: Monday-start date_trunc weeks, identical rank
    * tie-break and cap constant.
    */
  val freqCapSql: String = {
    val cap = llm.Attribution.WeeklyCap
    s"""WITH b AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
       |  FROM events WHERE event_type IN ('view', 'click')),
       |r AS (
       |  SELECT user_id, date_trunc('week', ts) AS wk, ts, event_id,
       |         row_number() OVER (PARTITION BY user_id, date_trunc('week', ts)
       |           ORDER BY ts, event_id) AS rn
       |  FROM b)
       |SELECT CAST(wk AS DATE) AS week,
       |       CAST(count(*) FILTER (rn <= $cap) AS BIGINT) AS served,
       |       CAST(count(*) FILTER (rn > $cap) AS BIGINT) AS suppressed,
       |       CAST(count(DISTINCT CASE WHEN rn > $cap THEN user_id END) AS BIGINT)
       |         AS capped_users
       |FROM r GROUP BY wk ORDER BY week""".stripMargin
  }

  /** freshness mirror: (type, day) cells, the per-type min/max/count
    * fold, and the same integer lag/span/ppm arithmetic against the
    * global max day.
    */
  val freshnessSql: String =
    s"""WITH cells AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |pt AS (
       |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
       |         min(day) AS first_day, max(day) AS last_day,
       |         CAST(count(*) AS BIGINT) AS n_active_days
       |  FROM cells GROUP BY event_type),
       |g AS (SELECT max(last_day) AS global_last_day FROM pt)
       |SELECT event_type, n_events, first_day, last_day, n_active_days,
       |       CAST(date_diff('day', last_day, global_last_day) AS BIGINT) AS lag_days,
       |       CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT) AS span_days,
       |       CAST(date_diff('day', first_day, last_day) + 1 - n_active_days AS BIGINT)
       |         AS n_missing_days,
       |       CAST(n_active_days * 1000000
       |         // (date_diff('day', first_day, last_day) + 1) AS BIGINT)
       |         AS completeness_ppm
       |FROM pt, g ORDER BY event_type""".stripMargin

  /** softDedup mirror: the recursive component closure (dedupClusterSql's
    * CTEs), cluster sizes, and the same integer-ppm 1/size weighting
    * left-joined onto the corpus (singletons weight 1).
    */
  val softDedupSql: String =
    s"""WITH RECURSIVE $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS a, id_b AS b FROM ed UNION SELECT id_b, id_a FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r AS r FROM reach JOIN und u ON u.a = reach.id),
       |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |cs AS (SELECT comp, count(*) AS csize FROM lab GROUP BY comp),
       |ms AS (SELECT lab.id AS doc_id, cs.csize FROM lab JOIN cs USING (comp)),
       |dw AS (
       |  SELECT d.source,
       |         CAST(len(list_filter(regexp_split_to_array(d.text, '\\s+'),
       |           x -> x <> '')) AS BIGINT) AS n_tokens,
       |         coalesce(ms.csize, 1) AS csize
       |  FROM documents d LEFT JOIN ms ON ms.doc_id = d.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dup_members,
       |       CAST(sum(1000000 // csize) AS BIGINT) AS eff_docs_ppm,
       |       CAST(sum(n_tokens * 1000000 // csize) AS BIGINT) AS eff_tokens_ppm
       |FROM dw GROUP BY source ORDER BY source""".stripMargin

  /** knnClassify mirror: labeled pool / classified-point split, the same
    * (cosine DESC, cid) rank, the plurality vote with (votes DESC,
    * label) tie-break, and the per-point neighbor total.
    */
  val knnClassifySql: String = {
    val S = llm.Similarity
    s"""WITH ke AS (
       |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
       |         sqrt(list_sum(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |kn AS (SELECT * FROM ke WHERE nrm > 0),
       |kl AS (SELECT * FROM kn WHERE vec_id % 3 = 0),
       |kq AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn,
       |              label AS true_label
       |       FROM kn WHERE vec_id % ${S.ClassifyStride} = 1 AND vec_id % 3 <> 0),
       |s AS (
       |  SELECT kq.qid, kq.true_label, kl.vec_id AS cid, kl.label,
       |         ${cosine("kq.qv", "kq.qn", "kl.embedding", "kl.nrm")} AS cosine
       |  FROM kl, kq),
       |r AS (
       |  SELECT qid, true_label, cid, label,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cosine DESC, cid) AS rank
       |  FROM s),
       |t AS (SELECT * FROM r WHERE rank <= ${S.KnnClassK}),
       |v AS (SELECT qid, true_label, label, CAST(count(*) AS BIGINT) AS votes
       |      FROM t GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |           ORDER BY votes DESC, label) AS rn,
       |         sum(votes) OVER (PARTITION BY qid) AS n_neighbors
       |  FROM v)
       |SELECT qid, true_label, label AS pred_label, votes,
       |       CAST(n_neighbors AS BIGINT) AS n_neighbors,
       |       CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT)
       |         AS correct
       |FROM w WHERE rn = 1 ORDER BY qid""".stripMargin
  }

  /** protoPrune mirror: the shared Lloyd chain, a fourth centroid update
    * off the final assignment, the same (sqdist ASC, vec_id) per-cluster
    * rank, and the ⌈n/4⌉ prune split.
    */
  val protoPruneSql: String =
    s"""WITH $lloydChainCtes,
       |${lloydUpdateCte("c4", "a3")},
       |d AS (
       |  SELECT a.vec_id, a.cluster_id, ${sqdist("a.qe", "c.cv")} AS dist
       |  FROM a3 a JOIN c4 c ON c.cid = a.cluster_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |           ORDER BY dist, vec_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster_id) AS n
       |  FROM d)
       |SELECT cluster_id,
       |       CAST(max(n) AS BIGINT) AS n_members,
       |       CAST(sum(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_pruned,
       |       CAST(min(CASE WHEN rn <= (n + 3) // 4 THEN vec_id END) AS BIGINT)
       |         AS min_pruned,
       |       CAST(sum(CASE WHEN rn <= (n + 3) // 4 THEN vec_id ELSE 0 END) AS BIGINT)
       |         AS sum_pruned,
       |       CAST(sum(CASE WHEN rn > (n + 3) // 4 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       CAST(sum(CASE WHEN rn > (n + 3) // 4 THEN vec_id ELSE 0 END) AS BIGINT)
       |         AS sum_kept
       |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** annCurve mirror: simIvfSql's assignment/probe chain widened to the
    * full probe-rank grid, the sweep as a VALUES join on probe_rank, and
    * the same per-(nprobe, qid) top-k graded against the brute truth.
    */
  val annCurveSql: String = {
    val S = llm.Similarity
    val sweepVals = S.NProbeSweep.map(n => s"($n)").mkString(", ")
    s"""WITH $simBaseCtes,
       |$ivfCentsCte,
       |casg AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT c.vec_id, cents.cent_id,
       |          ${cosine("c.embedding", "c.nrm", "cents.cv", "cents.cn")} AS cs
       |        FROM c, cents)),
       |cells AS (SELECT vec_id, cent_id FROM casg WHERE rn = 1),
       |qasg AS (
       |  SELECT qid, cent_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cent_id) AS rn
       |  FROM (SELECT q.qid, cents.cent_id,
       |          ${cosine("q.qv", "q.qn", "cents.cv", "cents.cn")} AS cs
       |        FROM q, cents)),
       |probes AS (SELECT qid, cent_id, CAST(rn AS BIGINT) AS probe_rank
       |           FROM qasg WHERE rn <= ${S.NProbeSweep.max}),
       |cand AS (
       |  SELECT q.qid, p.probe_rank, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN cells cl ON p.cent_id = cl.cent_id
       |  JOIN q ON q.qid = p.qid
       |  JOIN c ON c.vec_id = cl.vec_id
       |  WHERE c.vec_id <> q.qid),
       |sw AS (SELECT cand.*, CAST(t.n AS BIGINT) AS nprobe
       |       FROM cand JOIN (VALUES $sweepVals) t(n) ON cand.probe_rank <= t.n),
       |cost AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates,
       |                CAST(count(DISTINCT qid) AS BIGINT) AS n_served
       |         FROM sw GROUP BY 1),
       |tk AS (
       |  SELECT nprobe, qid, cid FROM (
       |    SELECT nprobe, qid, cid,
       |           row_number() OVER (PARTITION BY nprobe, qid
       |             ORDER BY cosine DESC, cid) AS rank
       |    FROM sw) WHERE rank <= ${S.K}),
       |bs AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |         ${cosine("q.qv", "q.qn", "c.embedding", "c.nrm")} AS cosine
       |  FROM c, q WHERE c.vec_id <> q.qid),
       |bt AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |             ORDER BY cosine DESC, cid) AS rank
       |    FROM bs) WHERE rank <= ${S.K}),
       |hits AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS sum_hits
       |         FROM tk JOIN bt USING (qid, cid) GROUP BY nprobe),
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q)
       |SELECT cost.nprobe, nq.n_queries, cost.n_served, cost.n_candidates,
       |       coalesce(hits.sum_hits, 0) AS sum_hits,
       |       CAST(coalesce(hits.sum_hits, 0) * 1000000
       |         // (nq.n_queries * ${S.K}) AS BIGINT) AS recall_ppm
       |FROM cost LEFT JOIN hits ON hits.nprobe = cost.nprobe CROSS JOIN nq
       |ORDER BY cost.nprobe""".stripMargin
  }

  /** datasetCard mirror: the quality-filter feature CTE with identical
    * double arithmetic, text-keyed exact keepers, the recursive near-dup
    * component closure for membership, and the (n DESC, lang) language
    * argmax.
    */
  val datasetCardSql: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE $sigCtes, $pairCtes,
       |ed AS (SELECT id_a, id_b FROM mh WHERE est_jaccard >= ${Dedup.NearDupThreshold}),
       |und AS (SELECT id_a AS a, id_b AS b FROM ed UNION SELECT id_b, id_a FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r AS r FROM reach JOIN und u ON u.a = reach.id),
       |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |feats AS (
       |  SELECT doc_id, source, lang,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
       |           AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |           t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT)
       |           AS n_punct
       |  FROM documents),
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |fl AS (
       |  SELECT f.source, f.n_chars, f.n_tokens,
       |         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_keeper,
       |         CASE WHEN lab.id IS NOT NULL THEN 1 ELSE 0 END AS near_member,
       |         CASE WHEN f.n_tokens >= 20 AND f.n_tokens <= 2000
       |              AND CAST(f.n_stop AS DOUBLE) <= CAST(f.n_tokens AS DOUBLE) * 0.5
       |              AND CAST(f.n_punct AS DOUBLE) <= CAST(f.n_chars AS DOUBLE) * 0.1
       |           THEN 1 ELSE 0 END AS quality
       |  FROM feats f
       |  LEFT JOIN keep k ON k.doc_id = f.doc_id
       |  LEFT JOIN lab ON lab.id = f.doc_id),
       |per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |         CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens,
       |         CAST(sum(quality) AS BIGINT) AS n_quality,
       |         CAST(sum(exact_keeper) AS BIGINT) AS n_exact_kept,
       |         CAST(sum(near_member) AS BIGINT) AS n_neardup_members
       |  FROM fl GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
       |lr AS (SELECT *, row_number() OVER (PARTITION BY source
       |         ORDER BY n DESC, lang) AS rn FROM lc),
       |ls AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
       |         min(CASE WHEN rn = 1 THEN lang END) AS top_lang,
       |         CAST(min(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_lang_docs
       |  FROM lr GROUP BY source)
       |SELECT per.source, n_docs, n_tokens, n_chars, mean_tokens,
       |       n_langs, top_lang, top_lang_docs,
       |       n_quality, n_exact_kept, n_neardup_members
       |FROM per JOIN ls ON ls.source = per.source ORDER BY per.source""".stripMargin
  }

  /** streamingPipeline mirror: every per-batch decision re-derived from
    * the chunk law (chunk = doc_id div 10 mod 4) — the quality predicate
    * verbatim, exact partners as text-equal docs in the lake or earlier
    * in arrival order, near partners as ≥-threshold mh pairs whose other
    * end is a base doc or an earlier stage-2 survivor.
    */
  val streamPipelineSql: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val thr = Dedup.NearDupThreshold
    s"""WITH $sigCtes, $pairCtes,
       |feats AS (
       |  SELECT doc_id,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
       |           AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |           t -> t IN ($stop))) AS BIGINT) AS n_stop,
       |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT)
       |           AS n_punct
       |  FROM documents),
       |qual AS (
       |  SELECT doc_id,
       |         (n_tokens >= 20 AND n_tokens <= 2000
       |          AND CAST(n_stop AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.5
       |          AND CAST(n_punct AS DOUBLE) <= CAST(n_chars AS DOUBLE) * 0.1) AS ok
       |  FROM feats),
       |dd AS (SELECT doc_id, (doc_id // 10) % 4 AS chunk
       |       FROM documents WHERE doc_id % 10 = 0),
       |s1 AS (SELECT dd.doc_id, dd.chunk FROM dd JOIN qual USING (doc_id) WHERE qual.ok),
       |ex AS (
       |  SELECT DISTINCT s1.doc_id FROM s1
       |  JOIN documents td ON td.doc_id = s1.doc_id
       |  WHERE EXISTS (
       |    SELECT 1 FROM documents p
       |    LEFT JOIN qual pq ON pq.doc_id = p.doc_id
       |    WHERE p.text = td.text AND (
       |      p.doc_id % 10 <> 0
       |      OR (pq.ok AND ((p.doc_id // 10) % 4 < s1.chunk
       |           OR ((p.doc_id // 10) % 4 = s1.chunk AND p.doc_id < s1.doc_id)))))),
       |s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
       |np AS (SELECT id_a AS d, id_b AS p FROM mh WHERE est_jaccard >= $thr
       |       UNION ALL
       |       SELECT id_b AS d, id_a AS p FROM mh WHERE est_jaccard >= $thr),
       |nd AS (
       |  SELECT DISTINCT s2.doc_id FROM s2 JOIN np ON np.d = s2.doc_id
       |  WHERE np.p % 10 <> 0
       |     OR EXISTS (SELECT 1 FROM s2 p2 WHERE p2.doc_id = np.p
       |          AND (p2.chunk < s2.chunk
       |               OR (p2.chunk = s2.chunk AND p2.doc_id < s2.doc_id)))),
       |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM nd))
       |SELECT dd.chunk AS chunk,
       |       CAST(count(*) AS BIGINT) AS n_in,
       |       CAST(sum(CASE WHEN s1.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_quality_drop,
       |       CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_exact_drop,
       |       CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_neardup_drop,
       |       CAST(sum(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_accepted,
       |       CAST(coalesce(sum(CASE WHEN s3.doc_id IS NOT NULL THEN dd.doc_id END), 0)
       |         AS BIGINT) AS sum_accepted
       |FROM dd
       |LEFT JOIN s1 ON s1.doc_id = dd.doc_id
       |LEFT JOIN ex ON ex.doc_id = dd.doc_id
       |LEFT JOIN nd ON nd.doc_id = dd.doc_id
       |LEFT JOIN s3 ON s3.doc_id = dd.doc_id
       |GROUP BY dd.chunk ORDER BY chunk""".stripMargin
  }

  /** maxsim mirror: distinct (doc, token) rows with the same single
    * poly-hash, the pinned 8-token query off doc 0, the integer Hamming
    * kernel, and the max-then-sum fold.
    */
  val maxsimSql: String = {
    val T = TextAnalysis
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id,
       |           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |             t -> t <> '')) AS tok
       |    FROM documents)),
       |dh AS (SELECT doc_id, tok, ${polyHash("tok", 131)} AS h FROM dt),
       |qt AS (SELECT tok AS qtok, h AS hq FROM dh WHERE doc_id = 0
       |       ORDER BY qtok LIMIT ${T.MaxSimQTokens}),
       |best AS (
       |  SELECT d.doc_id, q.qtok,
       |         max(${T.MaxSimBits} - 2 * bit_count(xor(d.h, q.hq) & 65535)) AS best
       |  FROM dh d, qt q WHERE d.doc_id <> 0
       |  GROUP BY 1, 2),
       |pd AS (
       |  SELECT doc_id, CAST(sum(best) AS BIGINT) AS score,
       |         CAST(sum(CASE WHEN best = ${T.MaxSimBits} THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_exact
       |  FROM best GROUP BY doc_id),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dtokens
       |       FROM dh WHERE doc_id <> 0 GROUP BY doc_id)
       |SELECT pd.doc_id, sz.n_dtokens, pd.n_exact, pd.score
       |FROM pd JOIN sz USING (doc_id)
       |ORDER BY score DESC, pd.doc_id LIMIT ${T.MaxSimTopK}""".stripMargin
  }
}
