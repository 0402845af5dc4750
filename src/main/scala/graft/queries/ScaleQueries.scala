package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scope, Tables}
import graft.etl.{Scratch, Sink}
import graft.llm.Similarity

/** Scale-technique operators: each demonstrates a 100 TB pattern on the
  * fixture tables, with the oracle asserting the technique changes no
  * values — only the shuffle/layout shape.
  */
object ScaleQueries {

  val SaltBuckets = 32

  /** Salted two-phase aggregation for skewed keys. `event_type` has ~5
    * values over the whole events table — at 100 TB a plain groupBy sends
    * each giant key to one reducer. Salting fans each key across
    * [[SaltBuckets]] partial aggregates, then merges. The oracle is the
    * PLAIN aggregation — proving the salted plan is value-identical.
    * (Sums in exact DECIMAL, so re-association cannot change results.)
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("salt", pmod(hash(col("event_id")), lit(SaltBuckets)))
      .groupBy("event_type", "salt")
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 2))).as("pv"))
      .groupBy("event_type")
      .agg(
        sum("pn").as("n"),
        sum("pv").cast("double").as("total_value"))
      .orderBy("event_type")

  /** Salted SHUFFLE JOIN for skewed keys: the events fact table joins a
    * per-event_type dim on a ~5-value key — a plain shuffle join sends
    * each giant key to ONE reducer. Salting replicates the (small) dim
    * side over [[SaltBuckets]] salt values and fans the fact side by a
    * hash salt, so the join key becomes (event_type, salt) and each hot
    * key spreads over [[SaltBuckets]] reducers. The shuffle_hash hint
    * keeps it an actual shuffle join (a broadcast would bypass the
    * pattern being demonstrated — at scale the dim may not fit, or the
    * engine may not support broadcast). The oracle is the PLAIN join —
    * salting must change no values. Weighted sums run in exact DECIMAL ×
    * BIGINT, so re-association across salt partials cannot drift.
    * The ENGINE-NATIVE sibling of this manual pattern — AQE's
    * OptimizeSkewedJoin splitting the hot partition at runtime — is
    * spec-asserted over the same fixture (GraftSpec "AQE skew-join").
    */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("weight", (length(col("event_type")) % 5 + 1).cast("long"))
    val salted = ev.withColumn("salt", pmod(hash(col("event_id")), lit(SaltBuckets)))
    val dimRep = dim.withColumn("salt",
      explode(sequence(lit(0), lit(SaltBuckets - 1))))
    salted.join(dimRep.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy("event_type", "salt")
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 2)) * col("weight")).as("pv"))
      .groupBy("event_type")
      .agg(
        sum("pn").as("n"),
        sum("pv").cast("double").as("weighted_value"))
      .orderBy("event_type")
  }

  /** Embedding-cosine near-duplicate detection, the SCALE-SAFE way:
    * candidate pairs come from LSH sign-bucket collisions (the same
    * deterministic hyperplanes as x_sim_lsh, mirrored bit-for-bit in the
    * oracle SQL), then every candidate is verified with the EXACT cosine
    * (>= 0.4, chosen to fire on the fixture embedding distribution, max
    * pairwise cosine ~0.6). The join is an equi-join on (table, bucket) —
    * it shuffles bucket keys, never the O(n²) cross product, so the plan
    * contains no BroadcastNestedLoopJoin and survives a 100× corpus. A
    * pair colliding in several tables scores identically → distinct.
    * Identical left-to-right double arithmetic on both engines makes both
    * the bucket signs and the >= comparison exact.
    *
    * Why the oracle mirrors the buckets instead of running exact
    * all-pairs: sign-LSH recall is < 1 by construction (a cosine-0.4
    * pair collides in ≥1 of 4 tables only ~25% of the time), so NO
    * candidate-based plan can hash-match a fixed exact-all-pairs oracle
    * — the candidate generation itself must be part of the checked
    * semantics (the x_sim_lsh precedent). Exactness is still pinned from
    * the other side: a ScalaTest asserts every returned pair is
    * contained in the exact all-pairs baseline.
    */
  val DupThreshold = 0.4

  def embedDups(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), Similarity.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(Similarity.bucketKeys(col("embedding"))).as("bk"))
    val a = e.select(col("bk"), col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("bk"), col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .distinct()
      .filter(col("cosine") >= lit(DupThreshold))
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** RANGE (interval) join, the scale-safe way. Spark has no native range
    * join operator — a raw `r.date BETWEEN lo AND hi` join plans as a
    * nested-loop. The standard distributed answer: explode each interval
    * into its coarse time BUCKETS (ISO weeks here; intervals are bounded
    * at 13 days ⇒ ≤ 3 buckets each), equi-join on the bucket — so the
    * shuffle key is the bucket, never the pair — then apply the exact
    * range as a residual filter. Bucket granularity trades replication
    * against candidate waste: weeks replicate each interval ≤3× and admit
    * ≤7 candidate days per bucket (months were ≤2× but ≤31 candidates —
    * ~4× more residual-filter work, measured). Intervals derive
    * deterministically from lineitem (ship date + quantity-mod-14 days)
    * and join the daily rates table; the oracle runs the plain BETWEEN
    * join — bucketing is plan-side only.
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(
        to_date(col("l_shipdate")).as("lo"),
        expr("date_add(CAST(l_shipdate AS DATE), CAST(floor(l_quantity) AS INT) % 14)").as("hi"))
    val rates = graft.etl.RatesSource.rates(spark, sfDir)
    // week buckets in INTEGER epoch days (guide §1.2 per-task work —
    // the trunc(…,'WEEK') + interval-stepped date sequence was the
    // per-row hot path, calendar arithmetic per fact row): epoch day 4
    // (1970-01-05) was a Monday, so wk(d) = days(d) − pmod(days(d)−4, 7)
    // is exactly unix_date(trunc(d,'WEEK')) — same bucket equalities,
    // same sequence length, plain long steps
    def wk(c: org.apache.spark.sql.Column) = {
      val e = unix_date(c)
      e - pmod(e - lit(4), lit(7))
    }
    val liB = li.withColumn("bucket",
      explode(sequence(wk(col("lo")), wk(col("hi")), lit(7))))
    val rB = rates.withColumn("bucket", wk(col("date")))
    liB.join(rB, Seq("bucket"))
      .filter(col("date") >= col("lo") && col("date") <= col("hi"))
      .groupBy(date_format(col("lo"), "yyyy-MM").as("ship_month"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("rate").cast(DecimalType(18, 2))).cast("double").as("sum_rate"))
      .orderBy("ship_month")
  }

  /** Z-order interleave of two non-negative ints (≤ `bits` bits each):
    * bit i of `d` lands at position 2i, bit i of `u` at 2i+1. Statically
    * unrolled shift/mask chain — pure codegen-able column arithmetic.
    * `bits` is derived from the observed dimension maxima at layout time
    * (see [[zorderLayout]]) — a fixed width would silently alias values
    * past 2^bits into the same interleave and degrade the clustering.
    */
  def zvalue(d: org.apache.spark.sql.Column, u: org.apache.spark.sql.Column,
             bits: Int): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Bits needed to represent `v` (≥ 1 so zvalue never degenerates). */
  private def bitsFor(v: Long): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(v, 0L)))

  /** X-ZORDER: multi-dimensional data layout — events rewritten in
    * Z-order on (day, user) so a scan filtered on EITHER or BOTH
    * dimensions skips most files via parquet min/max row-group stats.
    * One-dimensional layouts (day partitioning, user bucketing) serve
    * one predicate each; the space-filling curve serves both from one
    * copy: `repartitionByRange` on the interleaved z-value makes each
    * file a z-range, and a z-range is a bounded rectangle in (day, user)
    * space (spec asserts the per-file bounding boxes are fractions of
    * the full domain). The query then reads the z-table with a 7-day ×
    * one-tenth-of-users box predicate; the oracle runs the same box on
    * the raw table — layout must be value-neutral. At 100 TB the same
    * write (range-shuffle on z, ~target-size files) is how Delta/Iceberg
    * OPTIMIZE ZORDER lays out petabyte fact tables.
    */
  /** Floor on the z-layout's file count: size-targeting alone would
    * collapse a small-SF fixture into ONE file, and a single z-file has
    * no min/max ranges to skip — the layout needs enough z-ranges that
    * skipping (and the delete path's file confinement) stays meaningful.
    * At 100 TB `bytes/target` dominates and the floor is irrelevant.
    */
  val MinZFiles = 16

  def zorderLayout(spark: SparkSession, sfDir: String): String = {
    val dst = Sink.scratchPath(sfDir, "events_zorder")
    Scratch.once(dst) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          col("ts").cast("date").as("day"))
      val b = ev.agg(
        min("day").as("dmin"),
        max("day").as("dmax"),
        max("user_id").as("umax")).head()
      val dmin = b.getDate(0)
      val dayspan = java.time.temporal.ChronoUnit.DAYS
        .between(b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
      // width follows the data; 2 dims × bits must fit a signed long
      val bits = math.max(bitsFor(dayspan), bitsFor(b.getLong(2)))
      require(2 * bits <= 62,
        s"z-order domain too wide: $bits bits/dim (dayspan=$dayspan, " +
          s"max user=${b.getLong(2)}) — interleave would overflow a long")
      // file count from input bytes / target file size (with the z-range
      // floor above) — the OPTIMIZE ZORDER sizing rule, not a constant
      val n = math.max(MinZFiles,
        Sink.sizedPartitions(Sink.dataBytes(s"$sfDir/events.parquet")))
      ev.withColumn("z", zvalue(datediff(col("day"), lit(dmin)), col("user_id"), bits))
        .repartitionByRange(n, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(dst)
    }
  }

  def zorderQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dst = zorderLayout(spark, sfDir)
    val z = zorderScanCache.getOrBuild(spark, sfDir) { spark.read.parquet(dst) }
    val b = z.agg(
      min("day").as("dmin"), min("user_id").as("umin"), max("user_id").as("umax")).head()
    val (dmin, umin, umax) = (b.getDate(0), b.getLong(1), b.getLong(2))
    z.filter(
        col("day") >= date_add(lit(dmin), 7) && col("day") <= date_add(lit(dmin), 13) &&
          col("user_id") >= umin && col("user_id") <= umin + (umax - umin) / 10)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  private val zorderScanCache = new graft.Memo("scale.zorder_scan")

  /** X-FILE-SKIP: per-file min/max statistics manifest + whole-file
    * skipping — the statistics layer BETWEEN Q-PRUNE's partition pruning
    * and X-ZORDER's within-file clustering: when partition granularity
    * is too coarse, a (file → min, max) manifest lets the planner drop
    * whole files whose key range cannot match — exactly how
    * Delta/Iceberg data skipping works. The staged layout
    * range-partitions events by user_id into disjoint-range files; the
    * manifest is ONE metadata-sized aggregate over `input_file_name()`
    * (the shuffle carries a (file, min, max) row per file, never data),
    * and the driver materializes only the file paths — the same
    * O(files) listing a table-format driver holds. The pruned
    * multi-path scan then reads only matching files. The oracle is the
    * plain whole-table filter (skipping must change NO values); the
    * spec asserts the scan truly read fewer files than the layout
    * holds.
    */
  def fileSkipAudit(spark: SparkSession, sfDir: String): (DataFrame, Int, Int) = {
    val dst = Sink.scratchPath(sfDir, "events_ranged")
    Scratch.once(dst) {
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(16, col("user_id"))
        .write.mode("overwrite").parquet(dst)
    }
    val ranged = spark.read.parquet(dst)
    // the manifest job: one (file, min, max) row per non-empty file —
    // the corpus max derives from it too (no second full scan)
    val stats = ranged.groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"))
      .collect()
    require(stats.nonEmpty, s"empty ranged layout at $dst")
    val maxU = stats.map(_.getLong(2)).max
    val (lo, hi) = (maxU / 4, maxU / 2)
    val matching = stats
      .filter(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0))
    // zero matching files (possible under a sparse/skewed id domain):
    // the oracle's answer is an empty rollup, not a zero-path scan error
    val pruned =
      if (matching.isEmpty) ranged.filter(lit(false))
      else spark.read.parquet(matching.toIndexedSeq: _*)
    val result = pruned
      .filter(col("user_id") >= lo && col("user_id") <= hi)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
          .as("value_cents"))
      .orderBy("event_type")
    (result, matching.length, stats.length)
  }

  def fileSkip(spark: SparkSession, sfDir: String): DataFrame =
    fileSkipAudit(spark, sfDir)._1

  /** Bucketed co-located join: lineitem and orders written bucketed by
    * order key (16 buckets, sorted) join WITHOUT a shuffle — the
    * sort-merge join reads co-located buckets directly. At 100 TB this
    * is the difference between re-shuffling both fact tables per join
    * and a pure map-side merge. Registered as external bucketed tables
    * so a fresh session can reattach to the files.
    */
  val NumBuckets = 16

  def ensureBucketed(spark: SparkSession, sfDir: String): (String, String) = {
    val key = sfDir.replaceAll("[^A-Za-z0-9_]", "_")
    val (lt, ot) = (s"li_b_$key", s"o_b_$key")
    if (!spark.catalog.tableExists(lt)) {
      val lp = Sink.scratchPath(sfDir, "li_bucketed")
      val op = Sink.scratchPath(sfDir, "o_bucketed")
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", lp).format("parquet").saveAsTable(lt)
      Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", op).format("parquet").saveAsTable(ot)
    }
    (lt, ot)
  }

  /** X-BLOOM-JOIN: Bloom-filter pre-filtered shuffle join — the manual
    * form of Spark's runtime row-level filtering
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, SPARK-32268).
    * The dim side (a derived key list too large to trust as a broadcast
    * join at 100 TB but tiny as a SKETCH) aggregates into a Bloom filter
    * via the same native `BloomFilterAggregate` the optimizer injects;
    * the fact side filters on `might_contain(xxhash64(key))` BELOW its
    * shuffle, so rows that cannot match never enter the exchange. False
    * positives are fine: the exact join follows, so the result is
    * value-identical to the plain join (= the oracle). At cluster scale
    * the sketch travels as a scalar-subquery broadcast; collecting the
    * ~10 KB sketch to the driver here is the same data movement.
    */
  def bloomJoin(spark: SparkSession, sfDir: String): DataFrame = Scope.run { sc =>
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftx.ColumnBridge

    val ev = Tables.events(spark, sfDir)
    // cut: the sketch build (an action) and the exact join both read
    // the dim — without the cut the scan+distinct would run twice
    val dim = sc.cut(ev
      .filter(col("event_type") === "purchase" &&
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long") % 17 === 0)
      .select("user_id").distinct())

    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("user_id"))),
        Literal(10000L), Literal(80000L)).toAggregateExpression())
    val bloomBytes = dim.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)

    val mightContain = ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(col("user_id")))))

    ev.filter(mightContain) // sketch pre-filter: cuts the fact shuffle
      .join(dim, "user_id") // exact join: kills the false positives
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (lt, ot) = ensureBucketed(spark, sfDir)
    // force sort-merge (a broadcast would bypass the bucket co-location
    // being demonstrated; at 100 TB neither side broadcasts anyway)
    val li = spark.table(lt).hint("merge")
    val o = spark.table(ot)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Star-join filter constants (TPC-H Q5's shape: one region, one year). */
  val StarRegion = "ASIA"
  val StarYearStart = "1996-01-01"
  val StarYearEnd = "1997-01-01"

  /** X-STAR-JOIN: the classic six-table star join (TPC-H Q5's
    * local-supplier-volume shape) — revenue by nation for one region
    * and one order year, where the customer and the line's supplier
    * share a nation. This is THE join-planning stress shape a warehouse
    * engine must get right at 100 TB, and the plan here is built the
    * way the optimizer should leave it: selective dimension filters
    * FIRST (the order-date range prunes orders before any join — at
    * scale that's partition pruning; the region filter shrinks nation
    * to one region's rows), the two fact-sized equi-joins
    * (lineitem⋈orders on orderkey, then ⋈customer on custkey) carry
    * only the columns the query needs, and every remaining dimension
    * (supplier, region-filtered nation) BROADCASTS — zero shuffles
    * beyond the two irreducible fact exchanges. The local-supplier
    * predicate (c_nationkey = s_nationkey) applies map-side after the
    * supplier broadcast. Revenue in exact DECIMAL
    * (price × (1 − discount), scale-4 exact rationals) summed before
    * one cast to double, oracle-identical.
    */
  def starJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(StarYearStart).cast("timestamp") &&
        col("o_orderdate") < lit(StarYearEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .as("rev"))
    val c = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.load(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nr = Tables.load(spark, sfDir, "nation")
      .join(broadcast(Tables.load(spark, sfDir, "region")
        .filter(col("r_name") === StarRegion)
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"), sum("rev").cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** Skyline price-bucket width in cents ($10 over the [900, 1000) part
    * price domain ⇒ ~10 buckets).
    */
  val SkylineBucketCents = 1000L

  /** X-SKYLINE: Pareto frontier (skyline) of parts on (retail price ↓
    * better, size ↑ better) — "no other part is both cheaper and at
    * least as large" — the multi-objective shortlist query. The naive
    * formulations are both scale-dead: the all-pairs NOT EXISTS
    * dominance join is O(n²) (the oracle runs exactly that, on fixture
    * scale), and the textbook single sort + running max is ONE
    * unpartitioned window — a single-reducer funnel. The scalable
    * formulation is divide-and-conquer: partition by coarse price
    * bucket, local skyline per bucket (PARTITIONED window: running
    * strictly-preceding max size over the (price, size desc, partkey)
    * order — the tie-break also dedups exact (price, size) ties to the
    * min partkey, which the oracle mirrors as dominance-or-earlier-tie),
    * then one bucket-level prefix-max table (≤ #buckets rows, broadcast
    * self-join, never a global window) eliminates rows beaten by any
    * strictly-cheaper bucket. Correct because every part in a lower
    * bucket is strictly cheaper than every part in a higher one.
    */
  def skyline(spark: SparkSession, sfDir: String): DataFrame =
    skylineOf(Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * 100).cast("long").as("price_cents"),
        col("p_size").cast("long").as("size")))

  /** Core divide-and-conquer skyline over any (p_partkey, price_cents,
    * size) frame — separated so the property law can drive it with
    * generated point sets against a brute-force dominance reference.
    */
  def skylineOf(points: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = points
      .withColumn("bucket", (col("price_cents") / SkylineBucketCents).cast("long"))
    val wLocal = Window.partitionBy("bucket")
      .orderBy(col("price_cents").asc, col("size").desc, col("p_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = parts
      .withColumn("prev_max", max("size").over(wLocal))
      .filter(col("prev_max").isNull || col("size") > col("prev_max"))
    val bucketMax = parts.groupBy("bucket").agg(max("size").as("bmax"))
    val prefix = bucketMax.as("x")
      .join(bucketMax.as("y"), col("y.bucket") < col("x.bucket"), "left")
      .groupBy(col("x.bucket").as("bucket"))
      .agg(max(col("y.bmax")).as("cheaper_max"))
    local.join(broadcast(prefix), Seq("bucket"))
      .filter(col("cheaper_max").isNull || col("size") > col("cheaper_max"))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy("price_cents", "p_partkey")
  }

  /** Heavy keys reported by [[joinCard]]. */
  val JoinCardTopK = 5

  /** X-JOIN-CARD: join-cardinality forecast WITHOUT executing the join —
    * |A ⋈_k B| = Σ_k c_A(k)·c_B(k) over per-key counts, the estimate a
    * planner (or an engineer staring at a 100 TB DAG) needs BEFORE
    * committing to a shuffle that might explode. Demonstrated on the
    * worst case, the lineitem self-join on l_partkey (c_A = c_B, so the
    * forecast is Σ c², the blowup every dedup/self-match pipeline hits):
    * fact work is ONE partial+final count agg — the shuffle carries
    * (key, count), never rows — and everything downstream is key-domain
    * sized. Output: the [[JoinCardTopK]] heaviest keys ((count desc, key
    * asc) total order, TakeOrderedAndProject — no global sort) with each
    * key's exact pair contribution and its share of the total forecast
    * in ppm, plus the global forecast columns (key count, row count,
    * predicted self-join rows) broadcast from a one-row aggregate. All
    * exact BIGINT: c ≤ 2^31 keeps c² < 2^62; at a scale where one key
    * exceeds that, the forecast itself is the alarm.
    */
  def joinCard(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      count(lit(1)).as("n_keys"),
      sum("n").as("n_rows"),
      sum(col("n") * col("n")).as("join_rows"))
    counts
      .orderBy(col("n").desc, col("l_partkey"))
      .limit(JoinCardTopK)
      .crossJoin(broadcast(totals))
      .select(col("l_partkey"), col("n"),
        (col("n") * col("n")).as("pair_rows"),
        expr("n * n * 1000000 div join_rows").as("contrib_ppm"),
        col("n_keys"), col("n_rows"), col("join_rows"))
      .orderBy(col("n").desc, col("l_partkey"))
  }
}
