package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}

/** X-SIM (SURVEY.md §2.7): similarity search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Four paths:
  *  - [[bruteTopK]] — exact cosine top-k: broadcast the (small) query set
  *    against the full corpus. The corpus side streams — no shuffle until
  *    the per-query top-k. This is the correctness baseline.
  *  - [[lshTopK]] — sign-random-projection LSH: 4 tables × 6 hyperplane
  *    sign bits bucket the corpus; candidates are same-bucket only, so
  *    work is O(n × bucket) not O(n²).
  *  - [[multiprobeTopK]] — multi-probe LSH: the same corpus index, with
  *    each query also probing its single-bit-flip neighbor buckets
  *    (recall lever without re-indexing; ~3.4× single-probe recall
  *    measured at sf0.01).
  *  - [[ivfTopK]] — inverted-file: assign every vector to its nearest
  *    centroid *narrowly* (fold over a broadcast centroid array — no
  *    shuffle, no window), probe the 2 nearest cells per query.
  *
  * All four are oracle-checked end to end — including each ANN path's
  * `recall_hits` grading column against the shared memoized brute
  * baseline: the hyperplane signs are deterministic and inlined into the
  * DuckDB SQL, centroid choice is deterministic, and every
  * floating-point fold runs in the same order on both engines (see
  * OracleLlm).
  *
  * All vector math is the codegen'd [[graft.functions.DotProduct]] kernel
  * or built-in higher-order functions, no UDFs.
  */
object Similarity {

  /** Every `QueryStride`-th vector is a query — scales the query set with
    * the corpus (3 at sf0.001 → 250 at sf0.1).
    */
  val QueryStride = 200
  val K = 10

  /** Rank-k selection per query via the custom TopKPerKey operator
    * (graft.plans): bounded partial heaps instead of a full window sort —
    * at scale the shuffle carries K rows per query per partition, not
    * every scored pair. Identical semantics (and oracle) to
    * row_number() <= K with the same total order.
    */
  private def topK(scored: DataFrame): DataFrame =
    graft.plans.TopKPerKey(scored,
        keys = Seq("qid"), order = Seq(("cosine", true), ("cid", false)), k = K)
      .select(col("qid"), col("rank"), col("cid"), round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  /** dot(a, b) in double precision, summed left-to-right (index order) —
    * exactly reproducible as `list_sum(list_transform(...))` in DuckDB.
    * Native kernel ([[graft.functions.DotProduct]]): same fold order as
    * the higher-order-function form, none of its per-row allocations.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def corpusOf(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)

  private def corpus(spark: SparkSession, sfDir: String): DataFrame =
    corpusOf(Tables.embeddings(spark, sfDir))

  private def queriesOf(c: DataFrame, stride: Int): DataFrame =
    c.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))

  /** Exact brute-force cosine top-k per query. */
  def bruteTopK(spark: SparkSession, sfDir: String): DataFrame =
    bruteTopKOf(Tables.embeddings(spark, sfDir), QueryStride)

  def bruteTopKOf(embeddings: DataFrame, stride: Int): DataFrame = {
    val c = corpusOf(embeddings)
    val queries = queriesOf(c, stride)
    val scored = c.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
    topK(scored)
  }

  // ---- LSH (random hyperplane) path ----------------------------------

  val NumTables = 4
  val BitsPerTable = 6

  /** Deterministic ±1 hyperplanes (seeded), dim 64 — one group of
    * [[BitsPerTable]] planes per hash table. Multiple independent tables
    * are the standard recall lever for sign-random-projection LSH: a
    * near-neighbor only needs to collide in *one* table. The sign matrix
    * is inlined into the oracle SQL (OracleLlm.planeList), so the bucket
    * computation is reproduced exactly.
    */
  private val planes: Array[Array[Array[Float]]] = {
    val r = new java.util.Random(7)
    Array.fill(NumTables, BitsPerTable)(
      Array.fill(64)(if (r.nextBoolean()) 1.0f else -1.0f))
  }

  /** Flattened ±1 signs, indexed (t*BitsPerTable + j)*64 + d — the oracle
    * literal.
    */
  val planeSigns: Array[Int] =
    planes.flatten.flatten.map(f => if (f > 0) 1 else -1)

  /** Sign-bit bucket of a vector in table `t`: bit j = (v·plane_tj) >= 0. */
  def bucketOf(v: Column, t: Int): Column =
    planes(t).zipWithIndex.map { case (p, j) =>
      when(dot(v, typedlit(p.toSeq)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (table, bucket) keys of a vector, one per hash table. */
  def bucketKeys(v: Column): Column =
    array((0 until NumTables).map(t =>
      struct(lit(t).as("t"), bucketOf(v, t).as("bucket"))): _*)

  /** Recall@k grading column: `recall_hits` = |ANN top-k ∩ brute top-k|
    * per query — the accuracy half of the ANN contract (the bucketing
    * avoids O(n²); this states what that buys). Both sides are ≤ K rows
    * per query, so the intersection count and the join back onto the ANN
    * rows are broadcast-sized. The brute pass this grades against runs
    * over the SAME strided query sample the operator serves — at 100 TB
    * recall is graded on a query sample exactly like this, never by
    * brute-forcing the corpus per serving query.
    */
  def withRecall(ann: DataFrame, embeddings: DataFrame, stride: Int): DataFrame =
    withRecallBrute(ann, bruteTopKOf(embeddings, stride))

  /** Memoized+cached brute baseline per sfDir: the three fixture ANN
    * queries (LSH / multi-probe / IVF) all grade against the SAME ≤K-rows
    * -per-query result — one build, one cache entry, not three brute
    * passes per bench round.
    */
  private val bruteCache = new graft.Memo("similarity.topk")
  private def bruteFor(spark: SparkSession, sfDir: String): DataFrame =
    bruteCache.getOrBuild(spark, s"$sfDir#brute", cache = true) {
      bruteTopK(spark, sfDir)
    }

  /** Memoized+cached per-rung top-k frames, shared by each rung's own
    * query, the RRF fusion, and the rank-metrics report — like the brute
    * baseline, every ANN list is ≤ K rows per query, so one cache entry
    * per rung replaces up to three recomputations of the rung's whole
    * probe pipeline per bench round.
    */
  private def lshFor(spark: SparkSession, sfDir: String): DataFrame =
    bruteCache.getOrBuild(spark, s"$sfDir#lsh", cache = true) {
      lshTopKOf(Tables.embeddings(spark, sfDir), QueryStride)
    }
  private def multiprobeFor(spark: SparkSession, sfDir: String): DataFrame =
    bruteCache.getOrBuild(spark, s"$sfDir#multiprobe", cache = true) {
      multiprobeTopKOf(Tables.embeddings(spark, sfDir), QueryStride)
    }
  private def ivfFor(spark: SparkSession, sfDir: String): DataFrame =
    bruteCache.getOrBuild(spark, s"$sfDir#ivf", cache = true) {
      ivfTopKOf(Tables.embeddings(spark, sfDir), QueryStride)
    }
  private def ivfpqFor(spark: SparkSession, sfDir: String): DataFrame =
    bruteCache.getOrBuild(spark, s"$sfDir#ivfpq", cache = true) {
      ivfpqTopKOf(Tables.embeddings(spark, sfDir), QueryStride)
    }

  private def withRecallBrute(ann: DataFrame, bruteTopK: DataFrame): DataFrame = {
    val brute = bruteTopK.select(col("qid"), col("cid"))
    val hits = ann.select(col("qid"), col("cid"))
      .join(brute, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("recall_hits"))
    ann.join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("rank"), col("cid"), col("cosine"),
        coalesce(col("recall_hits"), lit(0L)).as("recall_hits"))
      .orderBy("qid", "rank")
  }

  /** ANN top-k: exact cosine, but only over same-bucket candidates from
    * any of the [[NumTables]] hash tables. At 100 TB the corpus is
    * hash-partitioned by (table, bucket); each query probes NumTables
    * buckets instead of scanning the corpus. Carries the recall@k
    * grading column ([[withRecall]]).
    */
  def lshTopK(spark: SparkSession, sfDir: String): DataFrame =
    withRecallBrute(lshFor(spark, sfDir), bruteFor(spark, sfDir))

  def lshTopKOf(embeddings: DataFrame, stride: Int): DataFrame = {
    val base = corpusOf(embeddings)
    val c = base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(bucketKeys(col("embedding"))).as("bk"))
    val queries = queriesOf(base, stride)
      .select(col("qid"), col("qv"), col("qn"),
        explode(bucketKeys(col("qv"))).as("qbk"))
    val scored = c.join(broadcast(queries),
        col("bk") === col("qbk") && col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
      .distinct() // a pair colliding in several tables scores identically
    topK(scored)
  }

  /** X-SIM multi-probe variant: each query probes its own bucket PLUS the
    * [[BitsPerTable]] single-bit-flip neighbor buckets in every hash
    * table (the standard multi-probe LSH recall lever — a near neighbor
    * that lands one sign-bit away is reached without adding hash tables
    * or re-indexing the corpus). Candidate volume rises from ~T/2^b of
    * the corpus to ~T·(1+b)/2^b — still bucket-bounded, never O(n²) —
    * and measured recall on the uniform fixture roughly triples
    * single-probe LSH (see the recall floor spec). The corpus index is
    * IDENTICAL to [[lshTopKOf]]'s (same 4 entries/vector): multi-probe
    * is a QUERY-side knob, which is exactly why production systems
    * prefer it to more tables.
    */
  def multiprobeTopK(spark: SparkSession, sfDir: String): DataFrame =
    withRecallBrute(multiprobeFor(spark, sfDir), bruteFor(spark, sfDir))

  def multiprobeTopKOf(embeddings: DataFrame, stride: Int): DataFrame = {
    val base = corpusOf(embeddings)
    val c = base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(bucketKeys(col("embedding"))).as("bk"))
    val probeList = (col: Column) =>
      array(col +: (0 until BitsPerTable)
        .map(j => col.bitwiseXOR(lit(1L << j))): _*)
    val probes = queriesOf(base, stride)
      .select(col("qid"), col("qv"), col("qn"), explode(bucketKeys(col("qv"))).as("qbk"))
      .select(col("qid"), col("qv"), col("qn"), col("qbk.t").as("qt"),
        explode(probeList(col("qbk.bucket"))).as("qbucket"))
    val scored = c.join(broadcast(probes),
        col("bk.t") === col("qt") && col("bk.bucket") === col("qbucket") &&
          col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
      .distinct() // a pair can collide via several probes/tables
    topK(scored)
  }

  // ---- IVF (inverted-file) path ---------------------------------------

  /** X-KMEANS/X-SEMDEDUP seeding law — k ∝ n BY DESIGN: every
    * [[CentroidStride]]-th vector seeds one Lloyd cluster, so expected
    * cluster size stays ~CentroidStride as the corpus grows. That bound
    * is load-bearing: X-SEMDEDUP's within-cluster pair join is quadratic
    * in cluster size, so the clustering law must keep clusters small at
    * any corpus scale. The ANN index family deliberately does NOT share
    * this law — its model must be corpus-INDEPENDENT (see
    * [[IvfCentroids]]); the two conventions solve opposite constraints.
    */
  val CentroidStride = 100

  /** Probe budget per query. 3 of the [[IvfCentroids]] = 4 fixture cells
    * is a HIGH scan fraction — deliberate: the fixture's vectors are
    * uniform-random, the no-structure worst case where cell membership
    * carries little signal, so clearing the measured ≥0.7 recall floor
    * honestly requires probing most cells (the same effect the recall
    * spec documents for LSH on this fixture). At production scale (k in
    * the thousands over CLUSTERED embeddings) the same NumProbes/k dial
    * sits at a tiny scan fraction; nothing in the plan shape changes.
    */
  val NumProbes = 3

  /** ANN centroid law — k PINNED, corpus-independent. The IVF family's
    * "trained model" is the [[IvfCentroids]] settled (non-delta) corpus
    * vectors SMALLEST in the multiplicative-hash order
    * `(vec_id · [[CentroidHashMult]]) mod [[CentroidHashMod]]` (ties by
    * vec_id) — a deterministic pinned-count sample, reproduced literally
    * in every oracle, so the model and the whole index are
    * engine-identical. Pinning k is what makes the broadcast-model scale
    * claim hold verbatim at 100 TB: the model is O(k) bytes and
    * assignment is O(n·k) with k a CONSTANT — under the previous
    * every-100th-id convention k grew with n, so the "broadcast model +
    * map-side fold" plan silently degraded to O(n²/stride) work and a
    * corpus-proportional broadcast. Corpus growth is handled
    * operationally, exactly like a production IVF store: X-ANN-STATS
    * reads the imbalance, X-ANN-REBALANCE splits hot cells. Delta rows
    * (ids ≡7 mod 10, "today's ingest") are excluded from the sample BY
    * LAW — model training runs on the settled corpus only — which is
    * what keeps append-only maintenance exact: deriving the model from
    * base-only and from base∪delta provably agree. The TakeOrdered that
    * realizes the sample is per-partition top-k + a k-row driver merge —
    * metadata-sized at any corpus scale. (vec_id·mult stays within Long
    * for ids < 2^33 — the fixture convention; a production deployment
    * with wider ids would hash into the same domain first.)
    */
  val IvfCentroids = 4
  val CentroidHashMult = 2654435761L // Knuth's 32-bit multiplicative hash
  val CentroidHashMod = 2147483647L // 2^31 − 1 (Mersenne prime)

  /** The pinned-sample total order, identical in both engines:
    * `(vec_id * mult) % p` with nonnegative ids keeps `%` and `pmod`
    * indistinguishable.
    */
  def centroidOrd(id: Column): Column =
    (id * lit(CentroidHashMult)) % lit(CentroidHashMod)

  /** The ANN centroid sample of a corpus frame (any frame carrying
    * `vec_id`): the [[IvfCentroids]] smallest rows in
    * ([[centroidOrd]], vec_id) order among settled (non-delta) ids —
    * column set preserved.
    */
  private[graft] def centroidRowsOf(c: DataFrame): DataFrame =
    c.filter(!isDeltaVec(col("vec_id")))
      .orderBy(centroidOrd(col("vec_id")), col("vec_id"))
      .limit(IvfCentroids)

  /** The centroid sample collapsed into the ONE broadcast model row
    * every assignment/probe fold consumes.
    */
  private[graft] def centArrOf(c: DataFrame): DataFrame =
    centroidRowsOf(c)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"))).as("cents"))

  /** Per-row best-centroid fold: scores every centroid in the broadcast
    * array, keeps (max score, min cent_id on ties). Order-independent, so
    * the collect_list ordering doesn't matter; ties resolve exactly like
    * the oracle's `ORDER BY score DESC, cent_id`.
    */
  private def bestCentroid(scores: Column): Column =
    aggregate(scores,
      struct(lit(-2.0d).as("s"), lit(Long.MaxValue).as("cid")),
      (acc, x) =>
        when(x("s") > acc("s") || (x("s") === acc("s") && x("cid") < acc("cid")), x)
          .otherwise(acc))

  /** Per-centroid cosine scores of a vector, materialized in its own
    * projection (Catalyst does no CSE inside lambda bodies — the fold
    * must consume a *column*, not recompute k dot products per step).
    */
  private def centroidScores(cents: Column, v: Column, n: Column): Column =
    transform(cents, x =>
      struct((dot(v, x("cv")) / (n * x("cn"))).as("s"), x("cid").as("cid")))

  /** Squared euclidean distance — the native codegen'd kernel
    * ([[graft.functions.SqDist]]): same left-to-right double fold as the
    * DotProduct kernel and the oracle's `list_sum` mirror, without the
    * per-row array allocation of the `aggregate(zip_with(...))` HOF form.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDist.sq_dist(a, b)

  /** X-KMEANS: one Lloyd assignment step over the embedding corpus —
    * the clustering pass semantic-dedup and corpus-curation pipelines
    * run over document embeddings. Same scale shape as IVF: the centroid
    * set (every [[CentroidStride]]-th vector, the deterministic "model")
    * collapses into ONE broadcast row and each vector folds its argmin
    * cell map-side — no n×k shuffle ever materializes; the only exchange
    * carries (cluster_id, count/min/sum) partials. The checked output is
    * integer-exact (sizes + member-id checksums that pin the exact
    * assignment), so no float reaches the hash compare; ties resolve
    * (min dist, then min centroid id) exactly like the oracle's
    * `ORDER BY d, cent_id`.
    */
  def kmeansAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val centArr = c.filter(col("vec_id") % CentroidStride === 0)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cv"))).as("cents"))
    val dists = transform(col("cents"), x =>
      struct(sqDist(col("embedding"), x("cv")).as("s"), x("cid").as("cid")))
    val nearest = aggregate(col("ds"),
      struct(lit(Double.MaxValue).as("s"), lit(Long.MaxValue).as("cid")),
      (acc, x) =>
        when(x("s") < acc("s") || (x("s") === acc("s") && x("cid") < acc("cid")), x)
          .otherwise(acc))
    c.join(broadcast(centArr))
      .select(col("vec_id"), dists.as("ds"))
      .select(col("vec_id"), nearest("cid").as("cluster_id"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        min("vec_id").as("min_member"),
        sum("vec_id").as("sum_members"))
      .orderBy("cluster_id")
  }

  /** X-VEC-AVG: per-label centroid aggregation — the grouped VECTOR
    * aggregate behind domain centroids, class prototypes, and k-means
    * update steps. Components quantize via `floor(x * 1024)` FIRST
    * (multiplying a double by 2^10 is exact in binary floating point, so
    * the quantized value is engine-independent), then everything is
    * integer arithmetic: per-(label, dim) sums, and per-label positional
    * checksums that pin every dim's sum without 64 output columns.
    * Scale shape: posexplode → one partial+final hash agg keyed
    * (label, dim) — the shuffle carries 64 partial sums per label per
    * partition, never raw vectors; the per-label fold is a second tiny
    * agg. At 100 TB this is exactly how a mean-pooled domain embedding
    * is computed.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * 1024).cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(
        max("n").as("n_vectors"),
        sum("s").as("sum_q"),
        sum(col("s") * (col("dim") + 1)).as("pos_checksum"),
        min("s").as("min_dim_sum"),
        max("s").as("max_dim_sum"))
      .orderBy("label")

  // ---- full Lloyd iteration (X-KMEANS-ITER) ---------------------------

  private val kmCache = new graft.Memo("similarity.kmeans")

  /** Lloyd iterations run by [[kmeansIter]]. */
  val KmeansIters = 3

  /** The corpus with every component quantized `floor(x * 1024)` and kept
    * as an integer-valued FLOAT (exact: |q| ≪ 2^24), so the [[sqDist]]
    * kernel applies unchanged. Multiplying by 2^10 is exact in binary
    * floating point, and sums of the integer values are exact (and
    * therefore ORDER-INDEPENDENT) far past this corpus size — which is
    * what makes the centroid-update means engine-reproducible: each mean
    * is an exact integer sum, ONE IEEE division, and ONE round-to-nearest
    * float cast. Memoized + cached: three assignment passes and two
    * update passes share it.
    */
  private def quantCorpus(spark: SparkSession, sfDir: String): DataFrame =
    kmCache.getOrBuild(spark, s"$sfDir#qe", cache = true) {
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1024).cast("float")).as("qe"))
    }

  /** X-KMEANS-ITER: the REAL clustering pass — [[KmeansIters]] full Lloyd
    * iterations composing the assign step ([[kmeansAssign]]'s shape) with
    * the update step ([[labelCentroids]]'s shape), the loop semantic-dedup
    * and corpus-curation actually run. Per iteration:
    *
    *  - ASSIGN: the k centroids collapse into ONE broadcast row; each
    *    vector folds its argmin cell map-side (ties → min centroid id).
    *    No n×k shuffle ever materializes — identical scale shape to IVF.
    *  - UPDATE: posexplode → partial+final hash agg keyed (cluster, dim) —
    *    the shuffle carries 64 partial sums per cluster per map partition,
    *    never raw vectors — then a tiny per-cluster fold rebuilds the
    *    centroid array. Cluster labels (the seed vector ids) are stable
    *    across iterations; a cluster that empties simply drops out.
    *
    * Each iteration's assignment is memoized + cached (the MLlib persist-
    * per-iteration pattern): iteration t+1's centroids AND iteration t's
    * convergence join both read assignment t once.
    *
    * All arithmetic lives in the quantized domain (see [[quantCorpus]]),
    * so every centroid component, distance, and tie-break is bit-identical
    * in the DuckDB oracle. Output is integer-exact per (iteration,
    * cluster): member count, min/sum member-id checksums pinning the exact
    * assignment, and `n_moved` — how many members arrived from a different
    * cluster — the convergence metric (iteration 1 counts every member as
    * moved).
    */
  def kmeansIter(spark: SparkSession, sfDir: String): DataFrame = {
    val assigns = lloydAssignments(spark, sfDir)

    def summarize(iter: Int, assigned: DataFrame, prev: Option[DataFrame]): DataFrame = {
      val withMoved = prev match {
        case None =>
          assigned.select(col("vec_id"), col("cluster_id"), lit(true).as("moved"))
        case Some(p) =>
          assigned.join(p.select(col("vec_id"), col("cluster_id").as("prev_cluster")), "vec_id")
            .select(col("vec_id"), col("cluster_id"),
              (col("cluster_id") =!= col("prev_cluster")).as("moved"))
      }
      withMoved.groupBy("cluster_id")
        .agg(
          count(lit(1)).as("n_members"),
          min("vec_id").as("min_member"),
          sum("vec_id").as("sum_members"),
          sum(when(col("moved"), lit(1L)).otherwise(lit(0L))).as("n_moved"))
        .select(lit(iter).as("iter"), col("cluster_id"), col("n_members"),
          col("min_member"), col("sum_members"), col("n_moved"))
    }

    (1 to KmeansIters)
      .map(it => summarize(it, assigns(it - 1), if (it == 1) None else Some(assigns(it - 2))))
      .reduce(_ unionAll _)
      .orderBy("iter", "cluster_id")
  }

  /** The memoized+cached per-iteration assignments `(vec_id, qe,
    * cluster_id)` of the Lloyd loop — iteration t+1's centroids, the
    * convergence joins, AND downstream consumers ([[semanticDedup]]) all
    * read each assignment once.
    */
  private def lloydAssignments(spark: SparkSession, sfDir: String): IndexedSeq[DataFrame] = {
    val e = quantCorpus(spark, sfDir)

    def assign(cents: DataFrame): DataFrame = {
      val centArr = cents.agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val dists = transform(col("cents"), x =>
        struct(sqDist(col("qe"), x("cv")).as("s"), x("cid").as("cid")))
      val nearest = aggregate(col("ds"),
        struct(lit(Double.MaxValue).as("s"), lit(Long.MaxValue).as("cid")),
        (acc, x) =>
          when(x("s") < acc("s") || (x("s") === acc("s") && x("cid") < acc("cid")), x)
            .otherwise(acc))
      e.join(broadcast(centArr))
        .select(col("vec_id"), col("qe"), dists.as("ds"))
        .select(col("vec_id"), col("qe"), nearest("cid").as("cluster_id"))
    }

    // mean per (cluster, dim): exact integer sum, ONE division, one
    // round-to-nearest float cast — then the 64 dims fold back into an
    // array ordered by dim
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cluster_id"), posexplode(col("qe")).as(Seq("dim", "x")))
        .groupBy("cluster_id", "dim")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
        .select(col("cluster_id"), col("dim"), (col("s") / col("n")).cast("float").as("v"))
        .groupBy("cluster_id")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("v")))),
          x => x("v")).as("cv"))
        .select(col("cluster_id").as("cid"), col("cv"))

    val assigns = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to KmeansIters).foreach { it =>
      val a = kmCache.getOrBuild(spark, s"$sfDir#assign$it", cache = true) {
        val cents =
          if (it == 1)
            e.filter(col("vec_id") % CentroidStride === 0)
              .select(col("vec_id").as("cid"), col("qe").as("cv"))
          else update(assigns(it - 2))
        assign(cents)
      }
      assigns += a
    }
    assigns.toIndexedSeq
  }

  /** Cosine threshold for a semantic duplicate — shared with the LSH
    * embedding-dedup path ([[graft.queries.ScaleQueries.DupThreshold]])
    * so the two strategies are directly comparable.
    */
  def SemDedupThreshold: Double = graft.queries.ScaleQueries.DupThreshold

  /** X-SEMDEDUP: semantic deduplication (the SemDeDup recipe): cluster
    * the corpus with the full Lloyd loop ([[kmeansIter]]'s final
    * assignment, memoized — clustering runs ONCE for both operators),
    * then find cosine-near pairs ONLY within each final cluster and drop
    * the higher-id member of every qualifying pair (greedy min-id
    * keeper, same rule as the text dedup pipeline). Scale shape: the
    * pair join is an EQUI-join on cluster_id — per-cluster quadratic
    * work bounded by cluster size (k scales with the corpus, so cluster
    * size stays ~CentroidStride), never the corpus-wide O(n²); zero-norm
    * vectors are excluded from pairing on both engines (a NaN cosine
    * would pass DuckDB's total-order `>=` but fail Spark's — exclusion
    * keeps the predicate engine-identical).
    *
    * Cosines are computed over the SAME quantized vectors the clusters
    * were built from: integer-exact dots, correctly-rounded sqrt norms,
    * one multiply + one divide — bit-identical in the oracle. Output is
    * the integer-exact per-cluster dedup profile (pair count, dropped
    * count + id checksum, survivors).
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val a3 = lloydAssignments(spark, sfDir).last
    val nz = a3.select(col("cluster_id"), col("vec_id"), col("qe"), norm(col("qe")).as("nrm"))
      .filter(col("nrm") > 0)
    val pairs = nz.as("a").join(nz.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster_id").as("cluster_id"),
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot(col("a.qe"), col("b.qe")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= lit(SemDedupThreshold))
    val pairStats = pairs.groupBy("cluster_id").agg(count(lit(1)).as("n_pairs"))
    val dropped = pairs.select(col("cluster_id"), col("id_b")).distinct()
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_dropped"), sum("id_b").as("sum_dropped"))
    a3.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .join(pairStats, Seq("cluster_id"), "left")
      .join(dropped, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        coalesce(col("sum_dropped"), lit(0L)).as("sum_dropped"))
      .orderBy("cluster_id")
  }

  /** IVF ANN: a deterministic "training sample" of the corpus acts as the
    * centroid set (the [[IvfCentroids]] pinned hash-order sample — model
    * size corpus-independent by law). Assignment is
    * MAP-ONLY: the centroid set is folded per row from one broadcast
    * array — no n×k cross-product shuffle, no window. A query probes its
    * [[NumProbes]] nearest cells; candidates arrive via one broadcast
    * hash join of the (tiny) probe list against the assigned corpus. At
    * 100 TB the corpus is written bucketed by cell id, so a probe is a
    * partition read, not a scan; this plan shuffles nothing but the
    * final k-rows-per-query top-k.
    */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame =
    withRecallBrute(ivfFor(spark, sfDir), bruteFor(spark, sfDir))

  def ivfTopKOf(embeddings: DataFrame, stride: Int): DataFrame = {
    val c = corpusOf(embeddings)
    // the "trained model": k pinned centroids collapsed into ONE
    // broadcast row (the [[IvfCentroids]] hash-order sample)
    val centArr = centArrOf(c)

    // inverted file: narrow per-row argmax over the centroid array
    val cells = c.join(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCentroid(col("scores"))("cid").as("cent_id"))

    // probes: top-NumProbes centroids per query (queries are few — the
    // same scores array, sorted by the oracle's total order, sliced)
    val probes = queriesOf(c, stride).join(broadcast(centArr))
      .select(col("qid"), col("qv"), col("qn"),
        centroidScores(col("cents"), col("qv"), col("qn")).as("scores"))
      .select(col("qid"), col("qv"), col("qn"),
        explode(slice(array_sort(col("scores"), (l, r) =>
          when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
            .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
            .otherwise(0)), 1, NumProbes)("cid")).as("cent_id"))

    // candidates = probed cells; each corpus row lives in exactly one
    // cell, so (qid, cid) pairs are already distinct
    val scored = cells.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
    topK(scored)
  }

  /** X-SIM-FILTERED index frame: the IVF-flat posting list carrying each
    * row's metadata label and exact vector — (vec_id, cent_id, label,
    * vec). Same map-only broadcast-centroid assignment as [[ivfTopKOf]]'s
    * cells; `vec` is the float embedding cast element-wise to double
    * (exact), so a probe served from the persisted JSONL index
    * reproduces the from-parquet cosine bit for bit (doubles round-trip
    * through JSON exactly — the pq_books precedent).
    */
  private[graft] def ivfFlatIndexFrame(embeddings: DataFrame): DataFrame = {
    val c = embeddings
      .select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val centArr = centArrOf(c)
    c.join(broadcast(centArr))
      .select(col("vec_id"), col("label"), col("embedding"),
        centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
      .select(col("vec_id"),
        bestCentroid(col("scores"))("cid").as("cent_id"),
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
  }

  // ---- IVF-PQ (product-quantized residuals) ---------------------------

  /** PQ layout: 64 dims split into [[PqSubspaces]] subspaces of
    * [[PqSubDim]] dims each.
    */
  val PqSubspaces = 8
  val PqSubDim = 8

  /** Deterministic PQ "training sample": residuals of ids
    * ≡ [[PqSampleOffset]] (mod [[PqSampleStride]]), IVF centroids
    * excluded (a centroid's own residual is the zero vector — keeping
    * them would plant duplicate zero codewords, silent PQ quality
    * loss), capped at the [[PqBookSize]] smallest in the shared
    * ([[centroidOrd]], vec_id) hash order — the same pinned-count
    * model law as the coarse centroids, so the codebook is
    * corpus-independent too. Sample ids are even (≡20 mod 40) while
    * delta ids are odd (≡7 mod 10), so the ingest partition can never
    * enter the codebook — the persisted PQ model is stable under
    * append by parity.
    */
  val PqSampleStride = 40
  val PqSampleOffset = 20


  /** Codebook size cap per subspace — production PQ's 8-bit codebook.
    * Without the cap the deterministic every-Nth sample GROWS with the
    * corpus, making encode cost O(n·samples) = O(n²/stride): ~1500
    * codewords at sf0.1 already dominated the rung's bench time, and a
    * 100 TB corpus would be quadratic. Capped (by hash-order rank, the
    * pinned-sample law), encode is O(n·256·d) — linear in the corpus
    * like every real PQ index build.
    */
  val PqBookSize = 256

  /** ADC shortlist size: candidates surviving the PQ prefilter per query
    * before exact re-ranking — ~25×K, the standard production rerank
    * multiplier. On the uniform fixture the ADC ordering from a
    * stride-limited codebook is noisy, so the shortlist must be generous
    * for the quantized rung to meet the same ≥0.7 recall contract as the
    * flat rung; at scale the shortlist stays a small constant × K while
    * candidates grow with the cell size, so the prefilter's bound on the
    * exchange (≤R rows per query per partition) is unchanged.
    */
  val PqRerank = 256

  /** X-SIM-IVFPQ: the IVF-PQ rung between scalar quantization
    * (X-EMBED-QUANT) and the coarse quantizer (X-SIM-IVF) — the index
    * layout every production ANN store actually serves from. The index
    * holds, per vector, ONE cell id + [[PqSubspaces]] small codeword ids
    * (≈9 ints instead of 64 floats); serving is three steps:
    *
    *  1. coarse probe — the query's [[NumProbes]] nearest IVF cells,
    *     identical to [[ivfTopKOf]];
    *  2. ADC prefilter — every candidate in the probed cells is scored
    *     against the query via its RECONSTRUCTION (cell centroid +
    *     per-subspace codeword of the residual), a broadcast-codebook
    *     lookup per row — the raw vector is never touched; the top
    *     [[PqRerank]] per query survive (bounded-heap TopKPerKey, so the
    *     exchange carries ≤R rows per query per partition);
    *  3. exact re-rank — the ≤R-per-query shortlist (broadcast-sized) is
    *     joined back to the corpus for true-cosine top-k, the standard
    *     PQ-then-rerank serving shape.
    *
    * Codebooks are the deterministic residual sample (same "model =
    * deterministic sample" convention as the IVF centroids), so the
    * whole chain — assignment, residuals, per-subspace argmin encode,
    * reconstruction, ADC scores, shortlist, re-rank — is bit-identical
    * in the DuckDB oracle, and the output carries the measured
    * `recall_hits` against the shared brute baseline like every other
    * ANN path.
    *
    * Scale shape: encode is map-only over broadcast codebooks (no n×k
    * shuffle, same as Lloyd assignment); at 100 TB the persisted index
    * is the (cell, codes) table bucketed by cell id, reconstruction
    * happens per probed candidate from broadcast codebooks, and only
    * top-R rows per query ever reach an exchange.
    */
  def ivfpqTopK(spark: SparkSession, sfDir: String): DataFrame =
    withRecallBrute(ivfpqFor(spark, sfDir), bruteFor(spark, sfDir))

  /** Sum over one subspace of squared component differences — double
    * arithmetic, index fold order, sliced at subspace `m` (1-based slice
    * start m·SubDim+1). Mirrors the oracle's `list_sum(list_transform)`.
    */
  private def subSqDist(a: Column, b: Column, m: Int): Column =
    aggregate(
      zip_with(
        slice(a, m * PqSubDim + 1, PqSubDim),
        slice(b, m * PqSubDim + 1, PqSubDim),
        (x, y) => (x - y) * (x - y)),
      lit(0.0d), _ + _)

  /** Winning codeword of subspace `m` for residual `rv`: fold over the
    * broadcast codebook row, keep (min distance, min bid on ties) and
    * carry the codeword slice in the accumulator so reconstruction needs
    * no second lookup.
    */
  private def pqCode(rv: Column, m: Int): Column =
    aggregate(col("books"),
      struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("bid"),
        lit(null).cast("array<double>").as("cw")),
      (acc, b) => {
        val d = subSqDist(rv, b("bv"), m)
        when(d < acc("d") || (d === acc("d") && b("bid") < acc("bid")),
          struct(d.as("d"), b("bid").as("bid"),
            slice(b("bv"), m * PqSubDim + 1, PqSubDim).as("cw")))
          .otherwise(acc)
      })

  /** Double dot product with index fold order (HOF form — the inputs
    * here are reconstructed `array<double>` rows, outside the float
    * kernels' domain; volume is shortlist/candidate-bounded).
    */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), _ + _)

  /** The build half of the IVF-PQ chain, shared by the in-engine rung
    * ([[ivfpqTopKOf]]) and the catalog-served index staging
    * (X-SIM-PQ-SERVE): corpus, coarse centroids, the one-row broadcast
    * codebook frame, and the ENCODED corpus — per vector one cell id
    * plus [[PqSubspaces]] winning-codeword structs. Pure refactor of the
    * original inline chain; the plans are identical.
    */
  private[graft] def pqEncoded(embeddings: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c = corpusOf(embeddings)
    val cents = centroidRowsOf(c)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"), col("nrm").as("cn"))
    val centArr = cents
      .agg(collect_list(struct(col("cent_id").as("cid"), col("cv"), col("cn"))).as("cents"))

    // coarse assignment — identical to ivfTopKOf's inverted file
    val cells = c.join(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCentroid(col("scores"))("cid").as("cent_id"))

    // residual r = v − centroid, in double (float→double widening and
    // double subtraction are both exact/correctly-rounded, so residuals
    // are engine-identical)
    val resid = cells.join(broadcast(cents), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("embedding"), col("cv"),
          (x, cc) => x.cast("double") - cc.cast("double")).as("rv"))

    // per-subspace codebooks: ONE broadcast row of sample residuals —
    // the PqBookSize smallest non-centroid stride hits in hash order
    // (pinned-count law; the anti-join is against the k-row model)
    val books = resid.filter(col("vec_id") % PqSampleStride === PqSampleOffset)
      .join(broadcast(cents.select(col("cent_id").as("vec_id"))), Seq("vec_id"), "left_anti")
      .orderBy(centroidOrd(col("vec_id")), col("vec_id"))
      .limit(PqBookSize)
      .agg(collect_list(struct(col("vec_id").as("bid"), col("rv").as("bv"))).as("books"))

    // encode (map-only): winning codeword per subspace
    val codeCols = (0 until PqSubspaces).map(m => pqCode(col("rv"), m).as(s"c$m"))
    val enc = resid.join(broadcast(books))
      .select(col("vec_id") +: col("cent_id") +: codeCols: _*)
    (c, cents, books, enc)
  }

  /** The persisted index rows a serving store holds: (vec_id, cell id,
    * [[PqSubspaces]] codeword ids) — ≈9 ints per vector.
    */
  private[graft] def pqIndexFrame(embeddings: DataFrame): DataFrame = {
    val (_, _, _, enc) = pqEncoded(embeddings)
    enc.select(col("vec_id"), col("cent_id"),
      array((0 until PqSubspaces).map(m => col(s"c$m")("bid")): _*).as("codes"))
  }

  /** [[pqIndexFrame]] with each posting's metadata label attached — the
    * staging X-SIM-FILTERED-PQ serves (filtered retrieval over the
    * QUANTIZED index: the production call composes both).
    */
  private[graft] def pqIndexLabeledFrame(embeddings: DataFrame): DataFrame =
    pqIndexFrame(embeddings)
      .join(embeddings.select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
      .select("vec_id", "cent_id", "label", "codes")

  /** The persisted codebook rows: (bid, 64-dim residual vector) — the
    * dim-sized model artifact reconstruction reads.
    */
  private[graft] def pqBooksFrame(embeddings: DataFrame): DataFrame = {
    val (_, _, books, _) = pqEncoded(embeddings)
    books.select(explode(col("books")).as("b"))
      .select(col("b.bid").as("bid"), col("b.bv").as("bv"))
  }

  def ivfpqTopKOf(embeddings: DataFrame, stride: Int): DataFrame = {
    val (c, cents, _, enc) = pqEncoded(embeddings)
    val centArr = cents
      .agg(collect_list(struct(col("cent_id").as("cid"), col("cv"), col("cn"))).as("cents"))

    // reconstruction v̂ = centroid + concat(codewords), and its norm —
    // this is what the ADC scores see; the raw vector never reappears
    // until the exact re-rank
    val rec = enc.join(broadcast(cents), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("cv"),
          flatten(array((0 until PqSubspaces).map(m => col(s"c$m")("cw")): _*)),
          (a, b) => a.cast("double") + b).as("av"))
      .select(col("vec_id"), col("cent_id"), col("av"),
        sqrt(dotD(col("av"), col("av"))).as("an"))

    // probes: top-NumProbes cells per query (same as ivfTopKOf)
    val probes = queriesOf(c, stride).join(broadcast(centArr))
      .select(col("qid"), col("qv"), col("qn"),
        centroidScores(col("cents"), col("qv"), col("qn")).as("scores"))
      .select(col("qid"), col("qv"), col("qn"),
        explode(slice(array_sort(col("scores"), (l, r) =>
          when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
            .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
            .otherwise(0)), 1, NumProbes)("cid")).as("cent_id"))

    // ADC prefilter: approximate cosine from the reconstruction only
    val scoredA = rec.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (aggregate(zip_with(col("qv"), col("av"), (x, y) => x.cast("double") * y),
          lit(0.0d), _ + _) / (col("qn") * col("an"))).as("sa"))
    val short = graft.plans.TopKPerKey(scoredA,
        keys = Seq("qid"), order = Seq(("sa", true), ("cid", false)), k = PqRerank)
      .select(col("qid"), col("cid"))

    // exact re-rank of the broadcast-sized shortlist
    val exact = c.join(broadcast(short.join(queriesOf(c, stride), Seq("qid"))),
        col("vec_id") === col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
    topK(exact)
  }

  // ---- X-SIM-INCR (incremental index maintenance) ---------------------

  /** Delta membership for the embedding corpus: every 10th vector at
    * offset 7 — "today's ingest". The centroid law excludes delta ids
    * EXPLICITLY ([[centroidRowsOf]] filters them before ranking), and
    * offset 7 keeps the delta disjoint from the query sample
    * (`% QueryStride == 0` ids are even) — together these make
    * append-only maintenance exact: the persisted model and the serving
    * query set are untouched by the ingest.
    */
  private[graft] def isDeltaVec(id: Column): Column = pmod(id, lit(10L)) === 7L

  /** The incremental index as its two parts: the PERSISTED base cells
    * (built once, read from storage in a real pipeline) and the delta
    * cells — the only assignment work an ingest day pays. Exposed for
    * the cost/equivalence spec.
    */
  private[graft] def incrIndexParts(embeddings: DataFrame): (DataFrame, DataFrame) = {
    val c = corpusOf(embeddings)
    val base = c.filter(!isDeltaVec(col("vec_id")))
    val delta = c.filter(isDeltaVec(col("vec_id")))
    val centArr = centArrOf(base)
    def assign(df: DataFrame): DataFrame =
      df.join(broadcast(centArr))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          bestCentroid(col("scores"))("cid").as("cent_id"))
    (assign(base), assign(delta))
  }

  /** The frozen centroid model as ROWS (cid, cv, cn) — the form a store
    * PERSISTS between ingest days; consumers collapse + broadcast it per
    * use ([[assignToModel]]). Settled members only by the centroid law
    * ([[centroidRowsOf]] excludes the delta partition before ranking).
    */
  private[graft] def centroidModelRows(embeddings: DataFrame): DataFrame =
    centroidRowsOf(corpusOf(embeddings))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn"))

  /** Map-only IVF assignment of a raw embeddings batch against a
    * persisted centroid-model rows frame — the micro-batch ingest step
    * of [[StreamingOps.streamingSimIngest]]: the model collapses into
    * ONE broadcast row, each batch vector folds its argmax cell
    * map-side; identical math to [[incrIndexParts]]' assignment.
    */
  private[graft] def assignToModel(batch: DataFrame, centRows: DataFrame): DataFrame = {
    val c = corpusOf(batch)
    val centArr = centRows
      .agg(collect_list(struct(col("cid"), col("cv"), col("cn"))).as("cents"))
    c.join(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCentroid(col("scores"))("cid").as("cent_id"))
  }

  /** A genuine full re-index for the equivalence spec: every corpus
    * vector assigned in one pass against the FULL corpus's centroid
    * sample (which equals the persisted base model — the centroid law
    * excludes the delta partition before ranking, so base-only and
    * base∪delta derivations agree by construction).
    */
  private[graft] def fullIndexCells(embeddings: DataFrame): DataFrame = {
    val c = corpusOf(embeddings)
    val centArr = centArrOf(c)
    c.join(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
      .select(col("vec_id"), bestCentroid(col("scores"))("cid").as("cent_id"))
  }

  /** X-ANN-STATS: inverted-file health report — the operational check an
    * ANN store runs before serving traffic: per-cell posting counts
    * (EMPTY cells included via a left join from the centroid set — an
    * empty cell is wasted probe budget), each cell's corpus share in
    * ppm, a membership checksum pinning the exact assignment, and the
    * global imbalance factor max/mean in ppm (a hot cell is a hot
    * partition at serving time — the number that says "rebalance the
    * centroids"). Everything integer-exact; the only corpus-sized work
    * is the one map-only assignment pass, and every aggregate after is
    * centroid-sized.
    */
  def annStats(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cells = fullIndexCells(emb)
    val perCell = cells.groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("sum_ids"))
    val cents = centroidRowsOf(corpusOf(emb))
      .select(col("vec_id").as("cent_id"))
    val full = cents.join(perCell, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("sum_ids"), lit(0L)).as("sum_ids"))
    val tot = full.agg(
      sum("n_vecs").as("total"), max("n_vecs").as("max_n"),
      count(lit(1)).as("n_cells"))
    full.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vecs"), col("sum_ids"),
        expr("n_vecs * 1000000 div total").as("share_ppm"),
        expr("max_n * n_cells * 1000000 div total").as("imbalance_ppm"))
      .orderBy("cent_id")
  }

  /** Children per split cell in [[annRebalance]]. */
  val RebalanceSplit = 2

  /** X-ANN-REBALANCE: act on [[annStats]]'s imbalance signal — split
    * every cell whose posting count exceeds the mean (the
    * rebalance-toward-uniform maintenance pass; at production skew the
    * same rule with a higher threshold splits only the hot tail, and a
    * hot cell is a hot partition at serving time). Each split cell gets
    * [[RebalanceSplit]] sub-centroids — deterministically seeded as the
    * cell's smallest member ids (the Lloyd refinement that would follow
    * in production is X-KMEANS-ITER's job; the split itself is what the
    * index layout needs) — and members re-assign by the same (max
    * cosine, min id) argmax as the coarse assignment, so children
    * partition their parent exactly. Unsplit cells pass through
    * unchanged. Output per new cell: parent, posting count, membership
    * checksum — integer-exact, postings conserved (spec), max cell
    * never grows (spec).
    *
    * Scale shape: one map-only assignment pass (broadcast model), one
    * centroid-sized stats agg, a per-hot-cell window bounded by the
    * cell membership, and the re-assignment folds a ≤RebalanceSplit
    * array per member row — no corpus×corpus work.
    */
  def annRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val c = corpusOf(emb)
    val cells = fullIndexCells(emb)
    val withVec = cells.join(c, Seq("vec_id"))
    val stats = cells.groupBy("cent_id").agg(count(lit(1)).as("n"))
    val tot = stats.agg(sum("n").as("total"), count(lit(1)).as("n_cells"))
    val hot = stats.crossJoin(broadcast(tot))
      .filter(col("n") * col("n_cells") > col("total"))
      .select("cent_id")
    // sub-centroids: the RebalanceSplit smallest member ids per hot cell,
    // collapsed to one bounded array per cell
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cent_id").orderBy("vec_id")
    val subs = withVec.join(broadcast(hot), Seq("cent_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= RebalanceSplit)
      .groupBy("cent_id")
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"))).as("subs"))
    val hotAssigned = withVec.join(broadcast(subs), Seq("cent_id"))
      .select(col("cent_id").as("parent_cent_id"), col("vec_id"),
        centroidScores(col("subs"), col("embedding"), col("nrm")).as("scores"))
      .select(col("parent_cent_id"), col("vec_id"),
        bestCentroid(col("scores"))("cid").as("new_cent_id"))
    val coldAssigned = withVec.join(broadcast(hot), Seq("cent_id"), "left_anti")
      .select(col("cent_id").as("parent_cent_id"), col("vec_id"),
        col("cent_id").as("new_cent_id"))
    hotAssigned.unionByName(coldAssigned)
      .groupBy("new_cent_id", "parent_cent_id")
      .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("sum_ids"))
      .orderBy("new_cent_id", "parent_cent_id")
  }

  /** X-SIM-INCR: incremental ANN index maintenance — the
    * [[graft.llm.Dedup.dedupIncremental]] pattern applied to the IVF
    * index. A daily embedding ingest cannot re-index the corpus at
    * 100 TB, and with an IVF index it never needs to: centroids are
    * frozen at build time (like persisted LSH planes), so appending a
    * delta is assigning ONLY the new vectors against the broadcast
    * centroid model and unioning the (vec_id, cell) rows onto the
    * persisted inverted file — cost proportional to the ingest, not the
    * corpus. Because per-vector assignment is independent of every
    * other vector, the appended index is VALUE-IDENTICAL to a full
    * re-index — which is exactly what the oracle computes (the full
    * formulation over base ∪ delta), proving the shortcut, the same
    * contract as X-INCR-AGG and X-DEDUP-INCR. Output is the served
    * top-k per query over the merged index plus `delta_hits` — how many
    * of the query's results came from today's ingest (the freshness
    * metric an incremental index exists to deliver).
    */
  def simIncrTopK(spark: SparkSession, sfDir: String): DataFrame =
    simIncrTopKOf(Tables.embeddings(spark, sfDir), QueryStride)

  def simIncrTopKOf(embeddings: DataFrame, stride: Int): DataFrame = {
    val (baseCells, deltaCells) = incrIndexParts(embeddings)
    serveIncrMerged(embeddings, baseCells.unionAll(deltaCells), stride)
  }

  /** Serve the incremental index from an explicit merged cells frame
    * (vec_id, embedding, nrm, cent_id) — shared by [[simIncrTopKOf]]
    * (in-memory base∪delta) and the STREAMING ingest
    * ([[StreamingOps.streamingSimIngest]]: base from storage ∪ the
    * micro-batch appends), which must serve the identical answer.
    */
  private[graft] def serveIncrMerged(
      embeddings: DataFrame, cells: DataFrame, stride: Int): DataFrame = {
    val c = corpusOf(embeddings)
    // probes against the SAME persisted centroid model (queries are base
    // members by construction — the serving set is stable under append)
    val base = c.filter(!isDeltaVec(col("vec_id")))
    val centArr = centArrOf(base)
    val probes = queriesOf(c, stride).join(broadcast(centArr))
      .select(col("qid"), col("qv"), col("qn"),
        centroidScores(col("cents"), col("qv"), col("qn")).as("scores"))
      .select(col("qid"), col("qv"), col("qn"),
        explode(slice(array_sort(col("scores"), (l, r) =>
          when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
            .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
            .otherwise(0)), 1, NumProbes)("cid")).as("cent_id"))
    val scored = cells.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
    val t = topK(scored)
    val dh = t.filter(isDeltaVec(col("cid")))
      .groupBy("qid").agg(count(lit(1)).as("delta_hits"))
    t.join(broadcast(dh), Seq("qid"), "left")
      .select(col("qid"), col("rank"), col("cid"), col("cosine"),
        coalesce(col("delta_hits"), lit(0L)).as("delta_hits"))
      .orderBy("qid", "rank")
  }

  // ---- reciprocal-rank fusion (X-RRF) --------------------------------

  /** RRF smoothing constant — the 60 of Cormack/Clarke/Buettcher,
    * SIGIR 2009 ("Reciprocal rank fusion outperforms Condorcet").
    */
  val RrfC = 60L

  /** X-RRF: reciprocal-rank fusion of two retrieval rankings — the
    * standard way hybrid search combines rankers whose SCORES are not
    * comparable (exact cosine vs an ANN probe here; in production,
    * dense-vector vs BM25 lexical): each ranker contributes
    * `1/(C + rank)` per candidate and candidates re-rank by the summed
    * contribution, so only rank POSITIONS matter. Contributions are
    * integer ppm (`1_000_000 div (C + rank)`) — exact on both engines,
    * no float-sum order to pin. Fuses [[bruteTopK]] (memoized, the
    * shared baseline every ANN rung grades against) with [[lshTopKOf]];
    * ties in the fused score break on cid so the output is a total
    * order. `n_rankers` says whether a row was found by both lists or
    * rescued by one — the column a hybrid-search dashboard actually
    * watches.
    *
    * Scale shape: the inputs are already top-k lists, so the fusion
    * joins ≤K rows per (query, ranker) — rank-bounded regardless of
    * corpus size — and the re-rank window runs over ≤2K candidates per
    * query. All corpus-sized work happens inside the two rankers, which
    * keep their own scale shapes (broadcast queries / bucketed probes).
    */
  def rrfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val brute = bruteFor(spark, sfDir)
      .select(col("qid"), col("cid"), col("rank").as("rb"))
    val lsh = lshFor(spark, sfDir)
      .select(col("qid"), col("cid"), col("rank").as("rl"))
    val fused = brute.join(lsh, Seq("qid", "cid"), "full_outer")
      .select(col("qid"), col("cid"),
        (coalesce(expr(s"CAST(1000000 AS BIGINT) div ($RrfC + rb)"), lit(0L))
          + coalesce(expr(s"CAST(1000000 AS BIGINT) div ($RrfC + rl)"), lit(0L)))
          .as("rrf_ppm"),
        (col("rb").isNotNull.cast("long") + col("rl").isNotNull.cast("long"))
          .as("n_rankers"))
    val w = Window.partitionBy("qid").orderBy(col("rrf_ppm").desc, col("cid"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "cid", "rrf_ppm", "n_rankers")
      .orderBy("qid", "rank")
  }

  // ---- graph-based ANN (X-SIM-KNNGRAPH) --------------------------------

  /** Out-degree bound of the kNN graph — each node keeps edges to its
    * [[KnnDegree]] best bucket-collision neighbors.
    */
  val KnnDegree = 8

  /** Beam width per search round. */
  val BeamWidth = 12

  /** Query-local seeds: each query's beam starts from its [[SeedWidth]]
    * best LSH bucket-collision candidates (plus the pinned global entry
    * as the connectivity fallback for a query with no collisions). A
    * single global entry alone is NOT navigable on clustered data: a
    * bounded-degree kNN graph over well-separated clusters is a set of
    * disconnected near-cliques (every node's D best neighbors are its
    * cluster mates), so a walk can never leave the entry's clique —
    * seeding from the query's own hash buckets is how production
    * graph indexes bootstrap the walk into the right neighborhood, and
    * the graph rounds then complete the neighborhood that hashing alone
    * only sampled.
    */
  val SeedWidth = 8

  /** Fixed number of greedy expansion rounds — unrolled, the
    * x_shortest_path discipline (a data-dependent convergence loop would
    * make the oracle unmirrorable; a fixed small hop budget is also what
    * a production graph index serves with).
    */
  val BeamRounds = 3

  /** X-SIM-KNNGRAPH: the neighbor-graph ANN family (HNSW's flat
    * ancestor) — the third index geometry next to hashing (LSH) and
    * partitioning (IVF): a bounded-degree kNN graph over the corpus,
    * searched by greedy beam expansion from a pinned entry point.
    *
    * Build: candidate pairs come from the SAME sign-LSH bucket index the
    * LSH rung serves from (corpus ⋈ corpus on (table, bucket) — volume
    * is bucket-bounded, never all-pairs; production would refine with
    * NN-descent rounds, same shape), each node keeps its [[KnnDegree]]
    * best neighbors by (cosine, id) through the bounded-heap TopKPerKey
    * operator, and edges are symmetrized THEN degree-capped back to the
    * best 2·[[KnnDegree]] links per node (the HNSW bidirectional-link +
    * prune rule — without the cap a hub's in-degree is unbounded and the
    * beam's per-round expansion bound would silently be B·max-indegree).
    *
    * Search: per query, the beam starts from the pinned entry point —
    * the settled corpus row smallest in the shared [[centroidOrd]] hash
    * order (the centroid law's total order reused, engine-identical) —
    * UNION the query's [[SeedWidth]] best bucket-collision seeds (the
    * navigability bootstrap; see [[SeedWidth]] for why a lone global
    * entry cannot escape its own clique on clustered data) — then
    * [[BeamRounds]] rounds of: expand the
    * ≤[[BeamWidth]] frontier over the edge list, drop already-visited
    * candidates (anti-join), score survivors, keep the best
    * [[BeamWidth]] as the next frontier. The served top-k re-ranks ALL
    * visited candidates exactly, and carries the measured `recall_hits`
    * against the shared brute truth like every rung.
    *
    * Scale shape: the one-time graph build is the only corpus-sized work
    * (bucket-bounded collision join + per-node bounded heap; the
    * persisted artifact is the (src, dst) edge list, ≤2·[[KnnDegree]]
    * rows per vector, bucketed by src). Serving is rank-bounded
    * everywhere: frontier ≤ B rows/query, per-round candidates ≤ B·2D
    * edge lookups/query (an equi-join on src against the bucketed edge
    * list — a partition read at 100 TB), visited ≤ 1 + R·B·2D rows/query.
    * No corpus scan per query at all — the property graph indexes buy.
    */
  def knngraphTopK(spark: SparkSession, sfDir: String): DataFrame =
    withRecallBrute(knngraphFor(spark, sfDir), bruteFor(spark, sfDir))

  private def knngraphFor(spark: SparkSession, sfDir: String): DataFrame =
    bruteCache.getOrBuild(spark, s"$sfDir#knngraph", cache = true) {
      // production path reads the memoized persisted edge tables — the
      // build is shared with x_knngraph_stats, never run twice
      knngraphSearch(corpus(spark, sfDir),
        knnEdgeTables(spark, sfDir)._2, QueryStride)
    }

  /** The kNN-graph build, shared by the search rung and the graph health
    * report: the DIRECTED bounded-degree out-edges (each node's
    * [[KnnDegree]] best bucket-collision neighbors) and their symmetrized
    * (out ∪ reversed) closure. `cb` is the exploded per-table bucket
    * index the LSH rung also serves from.
    */
  /** The exploded per-table bucket index over a corpus frame — the LSH
    * rung's serving structure, also the kNN-graph's candidate source.
    */
  private def cbOf(base: DataFrame): DataFrame =
    base.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(bucketKeys(col("embedding"))).as("bk"))

  /** Memoized materialized kNN-graph edge tables (directed out-edges,
    * symmetrized degree-capped closure) per (session, sfDir): the
    * bucket-collision build + bounded heaps run ONCE and both consumers
    * — the search rung (x_sim_knngraph) and the health report
    * (x_knngraph_stats) — read the persisted lists, exactly the
    * persisted-artifact shape the scaladocs describe (at scale this IS
    * the stored (src, dst) table, rebuilt only on reindex).
    */
  private val knnEdgesCache = new graft.Memo("sim.knn_edges")

  private[graft] def knnEdgeTables(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    // lazy cuts, filled by their first reader: the memo's own eager
    // checkpoint would re-plan x_knngraph_stats, whose shape
    // PLAN_MANIFEST.json pins
    lazy val built = knnEdgesOf(corpus(spark, sfDir))
    (knnEdgesCache.getOrBuild(spark, s"$sfDir#out", cache = true)(Scope.run(_.cut(built._2))),
      knnEdgesCache.getOrBuild(spark, s"$sfDir#edges", cache = true)(Scope.run(_.cut(built._3))))
  }

  private[graft] def knnEdgesOf(base: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cb = cbOf(base)
    val pairs = cb.as("l").join(cb.as("r"),
        col("l.bk") === col("r.bk") && col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.vec_id").as("src"), col("r.vec_id").as("dst"),
        (dot(col("l.embedding"), col("r.embedding"))
          / (col("l.nrm") * col("r.nrm"))).as("cos"))
      .distinct() // a pair colliding in several tables scores identically
    val outE = graft.plans.TopKPerKey(pairs,
        keys = Seq("src"), order = Seq(("cos", true), ("dst", false)), k = KnnDegree)
      .select(col("src"), col("dst"), col("cos"))
    // symmetrize (out ∪ reversed, the HNSW bidirectional-link rule),
    // then PRUNE back to the best 2·[[KnnDegree]] links per node — the
    // HNSW degree cap. Without it a hub's IN-degree is unbounded (any
    // node may sit in arbitrarily many top-D lists), so "per-round beam
    // expansion ≤ B·2D" would silently be B·max-indegree at scale. The
    // reversed copy carries the identical cosine (same index-order fold
    // on commuting multiplies), so the dedup and the prune order are
    // engine-exact.
    val sym = outE
      .unionAll(outE.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
      .distinct()
    val edges = graft.plans.TopKPerKey(sym,
        keys = Seq("src"), order = Seq(("cos", true), ("dst", false)), k = 2 * KnnDegree)
      .select(col("src"), col("dst"))
    (cb, outE.select(col("src"), col("dst")), edges)
  }

  def knngraphTopKOf(embeddings: DataFrame, stride: Int): DataFrame = Scope.run { sc =>
    val base = corpusOf(embeddings)
    // bounded-degree kNN graph from the LSH bucket index (see scaladoc).
    // The edge list is MATERIALIZED once (a sealed cut, freed with the
    // returned frame): every beam round joins it, and without the cut
    // each round's plan branch would re-run the whole bucket-collision
    // build. The persisted artifact at scale IS this materialized
    // (src, dst) table; ≤2D rows per node.
    val (_, _, edges0) = knnEdgesOf(base)
    knngraphSearch(base, sc.seal(edges0), stride)
  }

  /** The seeded greedy beam search over a materialized edge list — split
    * from the build so the production path serves from the memoized
    * [[knnEdgeTables]] while spec-driven corpora build their own.
    */
  private def knngraphSearch(base: DataFrame, edges: DataFrame, stride: Int): DataFrame = {
    val cb = cbOf(base)

    // pinned entry point: smallest settled id in the shared hash order
    val entry = base.filter(!isDeltaVec(col("vec_id")))
      .orderBy(centroidOrd(col("vec_id")), col("vec_id")).limit(1)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    val queries = queriesOf(base, stride)

    // round 0: each query scores the pinned entry PLUS its SeedWidth
    // best bucket-collision seeds (see [[SeedWidth]]); duplicates (the
    // entry colliding with a seed) collapse — cosines are deterministic
    val qb = queries.select(col("qid"), col("qv"), col("qn"),
      explode(bucketKeys(col("qv"))).as("qbk"))
    val seedScored = cb.join(broadcast(qb),
        col("bk") === col("qbk") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .distinct()
    val seeds = graft.plans.TopKPerKey(seedScored,
        keys = Seq("qid"), order = Seq(("cos", true), ("cid", false)), k = SeedWidth)
      .select("qid", "cid", "cos")
    val v0 = queries.crossJoin(broadcast(entry))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("ce")) / (col("qn") * col("cn"))).as("cos"))
      .unionAll(seeds)
      .distinct()
    var visited = v0
    var frontier = graft.plans.TopKPerKey(v0,
        keys = Seq("qid"), order = Seq(("cos", true), ("cid", false)), k = BeamWidth)
      .select("qid", "cid")
    (1 to BeamRounds).foreach { _ =>
      val cand = frontier.join(edges, frontier("cid") === edges("src"))
        .select(col("qid"), col("dst").as("cid")).distinct()
      val fresh = cand.join(visited.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
      val scored = fresh
        .join(base, fresh("cid") === base("vec_id"))
        .join(broadcast(queries), Seq("qid"))
        .select(col("qid"), col("cid"),
          (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      visited = visited.unionAll(scored)
      frontier = graft.plans.TopKPerKey(scored,
          keys = Seq("qid"), order = Seq(("cos", true), ("cid", false)), k = BeamWidth)
        .select("qid", "cid")
    }
    topK(visited.filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), col("cos").as("cosine")))
  }

  /** X-KNNGRAPH-STATS: the graph index's pre-serving health report —
    * [[annStats]]'s sibling for the neighbor-graph family. Per
    * symmetrized out-degree: how many nodes hold it (a 0-degree node is
    * unreachable AND cannot start a walk — dead index weight); plus the
    * directed edge count, the reciprocated-edge share in ppm (how much
    * symmetrization actually added — low reciprocity means the raw kNN
    * relation is one-sided and the symmetrized closure is doing real
    * navigability work), and the ENTRY-REACH probe: how many nodes a
    * [[BeamRounds]]-round unbounded BFS from the pinned entry point can
    * touch. That last number is the operational lesson of the seeded
    * beam ([[SeedWidth]]) made measurable: on clustered corpora the
    * bounded-degree graph decomposes into near-cliques and the reach
    * collapses to the entry's component — the signal that says "serve
    * with query-local seeds, not a global entry".
    *
    * Scale shape: one graph build (bucket-bounded collision join +
    * bounded heap), a degree agg keyed on src, edge-sized reciprocity
    * self-join, and an R-round BFS whose frontier is a key-only frame —
    * the x_closeness discipline. The report itself is degree-histogram
    * sized; constants attach via one-row broadcast stat joins.
    */
  def knngraphStats(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    val base = corpus(spark, sfDir)
    // the memoized persisted edge tables (shared with the search rung —
    // the collision build runs once per session, not once per report):
    // the degree histogram, the reciprocity self-join, and every BFS
    // round read the materialized lists
    val (outE, edges) = knnEdgeTables(spark, sfDir)
    val deg = base.select(col("vec_id"))
      .join(edges, base("vec_id") === edges("src"), "left")
      .groupBy(col("vec_id")).agg(count(col("dst")).as("deg"))
    val hist = deg.groupBy(col("deg").as("out_degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val st = outE.as("a")
      .join(outE.as("b"), col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .agg(count(lit(1)).as("n_recip"))
      .crossJoin(broadcast(outE.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_total"))))
    val entry = base.filter(!isDeltaVec(col("vec_id")))
      .orderBy(centroidOrd(col("vec_id")), col("vec_id")).limit(1)
      .select(col("vec_id").as("cid"))
    var reach = entry
    (1 to BeamRounds).foreach { _ =>
      // lazy lineage cut per round: `reach` is referenced twice (union +
      // expansion join), and without the cut the plan tree doubles per
      // round and re-executes the shared subtree on both branches
      reach = sc.cut(reach
        .unionAll(reach.join(edges, reach("cid") === edges("src"))
          .select(col("dst").as("cid")))
        .distinct())
    }
    val reachN = reach.agg(count(lit(1)).as("entry_reach"))
    hist.crossJoin(broadcast(st)).crossJoin(broadcast(reachN))
      .select(col("out_degree"), col("n_nodes"),
        col("n_edges").as("n_edges_directed"),
        expr("n_recip * 1000000 div n_edges").as("reciprocated_ppm"),
        col("entry_reach"),
        col("n_total").as("n_nodes_total"))
      .orderBy("out_degree")
  }

  // ---- retrieval rank metrics (X-RANK-METRICS) -------------------------

  /** Fixed-point nDCG rank weights: W(r) = floor(1e9 / log2(r + 1)) for
    * r in 1..[[K]], computed ONCE on the driver and injected as literals
    * into both engines' plans — no runtime transcendental on either side,
    * so the graded metric is bit-deterministic (the repo's integer-exact
    * rule; float log2 at query time could round differently per libm).
    */
  val NdcgWeightsPpb: IndexedSeq[Long] =
    (1 to K).map(r => (1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Ideal DCG of a full K-list under binary relevance — the constant
    * nDCG normalizer (every fixture query has ≥ K true neighbors, so the
    * ideal list is always full).
    */
  val NdcgIdealPpb: Long = NdcgWeightsPpb.sum

  /** X-RANK-METRICS: the retrieval-eval report card — recall@K, MRR and
    * nDCG@K for EVERY ANN rung in the library (IVF, IVF-PQ, LSH,
    * multi-probe LSH, RRF fusion) against the shared brute-force truth,
    * plus the `brute` rung graded against itself as a built-in
    * calibration row (it must come out exactly 1_000_000 ppm on all
    * three metrics — a self-test the output carries everywhere it goes).
    * `recall_hits` on the individual rungs answers "how many neighbors
    * did THIS query lose"; this operator answers the question an index
    * rollout actually asks — which rung clears the quality bar, and is
    * rank position (nDCG/MRR) preserved or only set membership (recall).
    * Relevance is binary membership in the brute top-K; all metric math
    * is fixed-point (ppm / ppb with driver-precomputed log weights and
    * integer division), so both engines agree bit-for-bit.
    *
    * Scale shape: every graded list is already ≤ K rows per query, so
    * the metric joins and per-query folds are rank-bounded — corpus size
    * only ever touches the rungs themselves, which keep their own scale
    * shapes. The (rung × query) grid makes silent no-result queries
    * count as zeros instead of vanishing from the averages.
    */
  def rankMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = bruteFor(spark, sfDir).select(col("qid"), col("cid"))
    val rungs: Seq[(String, DataFrame)] = Seq(
      "brute" -> bruteFor(spark, sfDir),
      "ivf" -> ivfFor(spark, sfDir),
      "ivfpq" -> ivfpqFor(spark, sfDir),
      "lsh" -> lshFor(spark, sfDir),
      "multiprobe" -> multiprobeFor(spark, sfDir),
      "knngraph" -> knngraphFor(spark, sfDir),
      "rrf" -> rrfTopK(spark, sfDir))
    val ann = rungs.map { case (n, df) =>
      df.select(lit(n).as("rung"), col("qid"), col("rank"), col("cid"))
    }.reduce(_ unionAll _)
    rankMetricsOf(ann, truth, rungs.map(_._1))
  }

  /** [[rankMetrics]]'s metric core on explicit (ann, truth) frames —
    * split out so the property law can drive the fixed-point metric math
    * with generated rankings against a sequential reference. `ann` is
    * (rung, qid, rank, cid) with rank in 1..K; `truth` is the (qid, cid)
    * relevant set; every rung in `rungNames` is reported even when it
    * returned nothing.
    */
  def rankMetricsOf(ann: DataFrame, truth: DataFrame,
      rungNames: Seq[String]): DataFrame = {
    val w = array(NdcgWeightsPpb.map(lit): _*)
    val hits = ann.join(broadcast(truth), Seq("qid", "cid"))
      .select(col("rung"), col("qid"), col("rank"),
        element_at(w, col("rank").cast("int")).as("w_ppb"))
    val perQ = hits.groupBy("rung", "qid").agg(
      count(lit(1)).as("hits"),
      min("rank").as("first_rel"),
      sum("w_ppb").as("dcg_ppb"))
    // (rung × query) grid via a constant-literal explode — map-side,
    // no join node for the planner to mis-size
    val grid = truth.select("qid").distinct()
      .select(col("qid"), explode(typedlit(rungNames)).as("rung"))
    val filled = grid.join(perQ, Seq("rung", "qid"), "left").select(
      col("rung"),
      coalesce(col("hits"), lit(0L)).as("hits"),
      coalesce(expr("CAST(1000000 AS BIGINT) div first_rel"), lit(0L))
        .as("rr_ppm"),
      coalesce(
        expr(s"dcg_ppb * CAST(1000000 AS BIGINT) div CAST($NdcgIdealPpb AS BIGINT)"),
        lit(0L)).as("ndcg_q_ppm"))
    filled.groupBy("rung").agg(
        count(lit(1)).as("n_queries"),
        sum("hits").as("hits_total"),
        sum("rr_ppm").as("sum_rr"),
        sum("ndcg_q_ppm").as("sum_ndcg"))
      .select(col("rung"), col("n_queries"), col("hits_total"),
        expr(s"CAST(1000000 AS BIGINT) * hits_total div (n_queries * $K)")
          .as("recall_ppm"),
        expr("sum_rr div n_queries").as("mrr_ppm"),
        expr("sum_ndcg div n_queries").as("ndcg_ppm"))
      .orderBy("rung")
  }

  // ---- greedy k-center coreset selection (X-KCENTER) -------------------

  /** Coreset size for [[kcenter]] — small and fixed: the loop is k
    * corpus passes, so k is a knob, not a scale axis.
    */
  val KCenterK = 8

  /** X-KCENTER: greedy farthest-point selection (Gonzalez 1985, the
    * 2-approximation for the k-center problem) — the diversity/coreset
    * pass a curation pipeline runs to pick k maximally-spread exemplars
    * from an embedding corpus (seed prototypes, eval probes, dedup
    * anchors). Seed = min vec_id; each round adds the vector FARTHEST
    * from the chosen set (max min-distance, ties → min vec_id) and
    * records that distance — the covering radius of the set selected so
    * far, so the output is the k-point coverage curve (nonincreasing by
    * construction, and a 2-approximation of the optimal k-center radius).
    *
    * All distances live in the [[quantCorpus]] floor(x·2^10) integer
    * domain (exact in both engines; the kmeans convention), so every
    * selection and tie-break is bit-identical in the oracle's unrolled
    * k-round CTE chain.
    *
    * Scale shape: k passes over the cached quantized corpus, each pass a
    * map-side top-1 (TakeOrdered carries ONE row per partition) plus a
    * narrow min-fold against the newly chosen center's broadcast-sized
    * vector literal; driver state is the k-row model, never data. Each
    * round's min-distance frame is a [[graft.Scope.probe]]: the round's
    * farthest-point pick fills it, reading the previous round's blocks,
    * which are then released.
    */
  def kcenter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qc = quantCorpus(spark, sfDir)
    val (seedId, seedQe) = qc.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("qe")).as[(Long, Array[Float])].head()
    var chosen = Vector((1L, seedId, 0L))
    var chosenIds = Vector(seedId)
    val farthest = (mind: DataFrame) => mind
      .filter(!col("vec_id").isin(chosenIds: _*))
      .orderBy(col("mind").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("mind"), col("qe"))
      .as[(Long, Double, Array[Float])].head()
    Scope.run { sc =>
      var round = sc.probe(qc.select(col("vec_id"), col("qe"),
        sqDist(col("qe"), typedlit(seedQe)).as("mind")))(farthest)
      for (i <- 2 to KCenterK) {
        val (mind, (nextId, nextDist, nextQe)) = round
        chosen = chosen :+ ((i.toLong, nextId, nextDist.toLong))
        chosenIds = chosenIds :+ nextId
        if (i < KCenterK) round = sc.probe(mind.select(col("vec_id"), col("qe"),
          least(col("mind"), sqDist(col("qe"), typedlit(nextQe))).as("mind")))(farthest)
      }
    }
    chosen.toDF("sel_ord", "vec_id", "dist_q").orderBy("sel_ord")
  }

  // ---- MMR diversified re-rank (X-MMR) ---------------------------------

  /** MMR trade-off weights (Carbonell & Goldstein, SIGIR 1998): score =
    * λ·rel − μ·max-sim-to-selected. λ and μ are SEPARATE double literals
    * on both engines — never derived as `1 − λ`, whose rounding
    * (0.30000000000000004) differs from the literal 0.3.
    */
  val MmrLambda = 0.7
  val MmrMu = 0.3

  /** X-MMR: maximal-marginal-relevance re-rank of each query's brute
    * top-K — the standard diversified-retrieval pass (near-duplicate
    * neighbors stop crowding the head of the list): greedily pick the
    * candidate maximizing λ·cosine(q,c) − μ·max cosine(c, s) over the
    * already-selected s, ties → min cid, until the whole K-list is
    * re-permuted. The emitted `mmr_score` is the score AT SELECTION TIME,
    * so the output is the full diversity-adjusted ranking an application
    * would serve.
    *
    * The greedy is inherently sequential PER QUERY but independent across
    * queries, so it runs as a typed flatMapGroups keyed by qid — the one
    * shape where per-group imperative state beats unrolled joins (each
    * group is ≤K rows; the K² candidate-pair sims are computed inside the
    * group with the same left-to-right double fold as the DuckDB mirror).
    * Everything upstream is rank-bounded: candidates join the corpus once
    * for vectors, and the group shuffle carries K rows per query
    * regardless of corpus size.
    */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, sfDir)
    val cand = bruteFor(spark, sfDir).select(col("qid"), col("cid"))
      .join(c, col("cid") === col("vec_id"))
      .select(col("qid"), col("cid"), col("embedding"), col("nrm"))
    val withRel = cand.join(queriesOf(c, QueryStride), Seq("qid"))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("rel"),
        col("embedding"), col("nrm"))
      .as[(Long, Long, Double, Array[Float], Double)]
    val out = withRel.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val items = it.toArray.sortBy(_._2)
      val n = items.length
      def sim(i: Int, j: Int): Double = {
        val (a, b) = (items(i)._4, items(j)._4)
        var acc = 0.0
        var d = 0
        while (d < math.min(a.length, b.length)) {
          acc += a(d).toDouble * b(d).toDouble; d += 1
        }
        acc / (items(i)._5 * items(j)._5)
      }
      val maxsim = new Array[Double](n)
      val picked = new Array[Boolean](n)
      val res = new Array[(Long, Long, Long, Double)](n)
      var rank = 0
      while (rank < n) {
        var best = -1
        var bestScore = 0.0
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val s = MmrLambda * items(i)._3 - MmrMu * maxsim(i)
            if (best < 0 || s > bestScore) { best = i; bestScore = s }
          }
          i += 1
        }
        picked(best) = true
        res(rank) = ((qid, rank + 1L, items(best)._2, bestScore))
        rank += 1
        var j = 0
        while (j < n) {
          if (!picked(j)) {
            val s = sim(j, best)
            if (s > maxsim(j)) maxsim(j) = s
          }
          j += 1
        }
      }
      res.iterator
    }.toDF("qid", "mmr_rank", "cid", "score")
    out.select(col("qid"), col("mmr_rank"), col("cid"),
        round(col("score"), 6).as("mmr_score"))
      .orderBy("qid", "mmr_rank")
  }

  /** The covering radius of [[kcenter]]'s full selection — max over the
    * corpus of min-distance to any chosen center. Exposed for the spec's
    * coverage-guarantee assertion (radius ≤ the last selection distance).
    */
  private[graft] def kcenterRadius(spark: SparkSession, sfDir: String): Long = {
    import spark.implicits._
    val picked = kcenter(spark, sfDir).select("vec_id").as[Long].collect().toSet
    val qc = quantCorpus(spark, sfDir)
    val cents = qc.filter(col("vec_id").isin(picked.toSeq: _*))
      .agg(collect_list(col("qe")).as("cs"))
    qc.join(broadcast(cents))
      .select(aggregate(col("cs"), lit(Double.MaxValue),
        (acc, cv) => least(acc, sqDist(col("qe"), cv))).as("mind"))
      .agg(max("mind")).as[Double].head().toLong
  }

  // ---- kNN-graph hubness diagnostic (X-HUBNESS) ------------------------

  /** X-HUBNESS: the in-degree distribution of the exact kNN graph — the
    * ANN index health metric high-dimensional retrieval lives with
    * (Radovanović et al., JMLR 2010): as dimensionality grows a few
    * "hub" vectors appear in MANY top-k lists while antihubs appear in
    * none, which silently skews every downstream consumer (a semdedup
    * pass keeps deleting the hubs' neighbors; a retrieval eval
    * overweights them). The histogram says whether this corpus has the
    * pathology BEFORE the index ships. in_degree = how many query top-k
    * lists a vector appears in (from the shared memoized brute table —
    * no new scoring), 0-rows included via the corpus anti-join side so
    * antihubs are counted, not dropped; one row per observed in-degree
    * with the vector count and the min vec_id witness. All exact
    * integers; work beyond the shared baseline is one count-agg over
    * top-k rows (≤ queries×k) + one broadcast join onto the corpus ids.
    */
  def hubness(spark: SparkSession, sfDir: String): DataFrame = {
    val indeg = bruteFor(spark, sfDir)
      .groupBy(col("cid").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    corpus(spark, sfDir).select(col("vec_id"))
      .join(broadcast(indeg), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree")
      .agg(count(lit(1)).as("n_vectors"), min("vec_id").as("min_vec_id"))
      .orderBy("in_degree")
  }

  // ---- IVF probe-sweep tuning curve (X-ANN-CURVE) ----------------------

  /** The nprobe grid [[annCurve]] sweeps — 1..k over the fixed-k centroid
    * model, so the curve's last point is the exhaustive-probe ceiling.
    */
  val NProbeSweep: Seq[Long] = Seq(1L, 2L, 3L, 4L)

  /** X-ANN-CURVE: the IVF nprobe recall/cost tuning curve — X-LSH-CURVE's
    * sibling for the partitioning index family: one row per probe width
    * with the exact candidate volume (the cost an operator pays per
    * query) and measured recall@k vs the shared memoized brute truth
    * (the accuracy it buys). This is THE table an index operator reads
    * to set NumProbes before a 100 TB serve rollout — the production
    * dial (probe more cells = scan more postings = higher recall) made
    * measurable on the real corpus instead of guessed.
    *
    * Scale shape: the inverted file builds ONCE (the same map-only
    * broadcast-centroid fold as X-SIM-IVF) and every sweep point reuses
    * it — candidates carry their probe rank, so "nprobe = n" is a
    * filter, not a rebuild; the per-(nprobe, query) top-k runs in
    * TopKPerKey bounded heaps over the sweep-exploded candidates
    * (bounded: sweep × bucket-bounded candidate volume), and the curve
    * itself is a sweep-sized aggregate. Recall grades against the
    * memoized brute table — no extra brute pass.
    */
  def annCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    val centArr = centArrOf(c)
    val maxP = NProbeSweep.max.toInt

    val cells = c.join(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        centroidScores(col("cents"), col("embedding"), col("nrm")).as("scores"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCentroid(col("scores"))("cid").as("cent_id"))

    val probes = queriesOf(c, QueryStride).join(broadcast(centArr))
      .select(col("qid"), col("qv"), col("qn"),
        slice(array_sort(centroidScores(col("cents"), col("qv"), col("qn")), (l, r) =>
          when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
            .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
            .otherwise(0)), 1, maxP).as("top"))
      .select(col("qid"), col("qv"), col("qn"),
        posexplode(col("top")).as(Seq("p", "pc")))
      .select(col("qid"), col("qv"), col("qn"),
        (col("p") + 1).cast("long").as("probe_rank"), col("pc")("cid").as("cent_id"))

    val cands = cells.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("probe_rank"), col("vec_id").as("cid"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))

    val sw = cands
      .withColumn("nprobe", explode(typedlit(NProbeSweep)))
      .filter(col("probe_rank") <= col("nprobe"))
    val cost = sw.groupBy("nprobe")
      .agg(count(lit(1)).as("n_candidates"),
        countDistinct(col("qid")).as("n_served"))

    val top = graft.plans.TopKPerKey(
      sw.select(col("nprobe"), col("qid"), col("cid"), col("cosine")),
      keys = Seq("nprobe", "qid"),
      order = Seq(("cosine", true), ("cid", false)), k = K)
    val hits = top.join(bruteFor(spark, sfDir).select(col("qid"), col("cid")),
        Seq("qid", "cid"))
      .groupBy("nprobe").agg(count(lit(1)).as("sum_hits"))

    val nq = queriesOf(c, QueryStride).agg(count(lit(1)).as("n_queries"))
    cost
      .join(broadcast(hits), Seq("nprobe"), "left")
      .crossJoin(broadcast(nq))
      .select(col("nprobe"), col("n_queries"), col("n_served"),
        col("n_candidates"),
        coalesce(col("sum_hits"), lit(0L)).as("sum_hits"),
        expr(s"coalesce(sum_hits, 0) * 1000000 div (n_queries * $K)")
          .as("recall_ppm"))
      .orderBy("nprobe")
  }

  // ---- prototype pruning (X-PROTO-PRUNE) -------------------------------

  /** X-PROTO-PRUNE: per-cluster prototypicality pruning — the
    * diversification half of the D4 recipe (Tirumala et al. 2023:
    * after SemDeDup removes near-duplicate PAIRS, the points CLOSEST to
    * their cluster centroid are the most prototypical/redundant mass and
    * pruning them shifts the data mixture toward the informative tail).
    * Runs on the SAME final Lloyd assignment X-SEMDEDUP consumes (the
    * memoized three-iteration loop — clustering runs ONCE for all three
    * operators): per cluster the exact mean centroid is rebuilt in the
    * quantized domain (exact integer sums, ONE division, one
    * round-to-nearest float cast — the kmeansIter convention, so every
    * distance is bit-identical in the oracle), each member ranks by
    * (squared distance to its own centroid ASC, vec_id), and the closest
    * ⌈n/4⌉ members prune. Output is the integer-exact per-cluster prune
    * profile (counts + id checksums for both halves).
    *
    * Scale shape: centroid rebuild is the posexplode partial+final agg
    * (64 partial sums per cluster per map partition); the distance pass
    * folds against the broadcast centroid table map-side; the ranking
    * window partitions by cluster — cluster size stays ~CentroidStride
    * by the model law, so no single-reducer sort ever appears.
    */
  def protoPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a3 = lloydAssignments(spark, sfDir).last
    val cents = a3
      .select(col("cluster_id"), posexplode(col("qe")).as(Seq("dim", "x")))
      .groupBy("cluster_id", "dim")
      .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster_id"), col("dim"), (col("s") / col("n")).cast("float").as("v"))
      .groupBy("cluster_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("v")))),
        x => x("v")).as("cv"))
    val w = Window.partitionBy("cluster_id")
    a3.join(broadcast(cents), Seq("cluster_id"))
      .select(col("cluster_id"), col("vec_id"), sqDist(col("qe"), col("cv")).as("dist"))
      .withColumn("rn", row_number().over(w.orderBy(col("dist"), col("vec_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("cut", expr("(n + 3) div 4"))
      .groupBy("cluster_id")
      .agg(
        max("n").as("n_members"),
        sum(when(col("rn") <= col("cut"), 1L).otherwise(0L)).as("n_pruned"),
        min(when(col("rn") <= col("cut"), col("vec_id"))).as("min_pruned"),
        sum(when(col("rn") <= col("cut"), col("vec_id")).otherwise(0L)).as("sum_pruned"),
        sum(when(col("rn") > col("cut"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > col("cut"), col("vec_id")).otherwise(0L)).as("sum_kept"))
      .orderBy("cluster_id")
  }

  // ---- kNN classification (X-KNN-CLASSIFY) -----------------------------

  /** Neighbors per classified point. */
  val KnnClassK = 5

  /** Every [[ClassifyStride]]-th non-labeled-pool vector is classified —
    * the query sample scales with the corpus like [[QueryStride]].
    */
  val ClassifyStride = 20

  /** X-KNN-CLASSIFY: k-nearest-neighbor majority-vote classification
    * over the embedding space — the model-assisted curation step that
    * propagates a SCARCE labeled set onto the unlabeled corpus (the
    * quality/domain/language classifier every curation recipe trains;
    * kNN over embeddings is its deterministic, training-free form).
    * Labeled pool = vec_id ≡ 0 (mod 3); classified points = every
    * [[ClassifyStride]]-th remaining vector. Each point takes its
    * [[KnnClassK]] nearest labeled neighbors by exact cosine
    * ((cosine DESC, cid) total order via the TopKPerKey operator —
    * bounded partial heaps, never a full window sort) and votes with
    * plurality, ties broken by smallest label — exact integer counts, so
    * the decision is engine-independent. The fixture's ground-truth
    * `label` column rides along as `true_label` with a 0/1 `correct`
    * flag, making the output double as the classifier's eval table
    * (X-EVAL-METRICS' convention: ship the prediction WITH its audit).
    *
    * Scale shape: the labeled pool is the small side by construction —
    * labels are expensive, the pool is model-sized — so at 100 TB the
    * QUERY batch broadcasts (or the pool does, whichever is smaller)
    * and the corpus side streams map-only into per-query bounded heaps;
    * the vote is a ≤ queries·k agg + one tiny argmax window. No
    * corpus-sized shuffle anywhere.
    */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val labeled = e.filter(col("vec_id") % 3 === 0)
    val points = e.filter(col("vec_id") % ClassifyStride === 1 && col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label").as("true_label"))
    val scored = labeled.join(broadcast(points))
      .select(col("qid"), col("true_label"), col("vec_id").as("cid"), col("label"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
    val top = graft.plans.TopKPerKey(scored,
      keys = Seq("qid"), order = Seq(("cosine", true), ("cid", false)), k = KnnClassK)
    val votes = top.groupBy("qid", "true_label", "label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("qid")
    votes
      .withColumn("rn", row_number().over(
        w.orderBy(col("votes").desc, col("label"))))
      .withColumn("n_neighbors", sum("votes").over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("true_label"), col("label").as("pred_label"),
        col("votes"), col("n_neighbors"),
        when(col("label") === col("true_label"), 1L).otherwise(0L).as("correct"))
      .orderBy("qid")
  }
}
