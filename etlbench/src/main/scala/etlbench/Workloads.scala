package etlbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.etl.{FbInsightsSource, Normalize, RatesSource, Sink}
import graft.sources.FbInsightsDataSource

/** One op: an id that names its expected result, the engine module it
  * exercises, and a body that does the op's work and returns the
  * DataFrame whose digest is its checked output.
  */
final case class Op(id: String, module: String)(val body: Ctx => DataFrame)

/** What an op or a setup step can reach: the session, the fixture, the
  * run's scratch root, the span recorder and named counters.
  */
final class Ctx(val spark: SparkSession, val sf: String, val scratch: Path) {
  val spans = new Spans()
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Time a set-up step into `setup.<name>_s`. */
  def phase[T](name: String)(body: => T): T = {
    val key = s"setup.${name}_s"
    val t0 = System.nanoTime()
    try body finally setup(key) = setup.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def count(name: String, v: Double): Unit = counters(name) += v
}

trait Workload {
  def name: String
  /** Stage inputs and build what the timed ops need; `seed` may choose
    * which part of the fixture the run uses.
    */
  def setup(ctx: Ctx, seed: Long): Unit
  /** Untimed warm-up ops, run (and checked) at the end of set-up. */
  def warmup(ctx: Ctx): Seq[Op]
  /** The next round of timed ops; `rnd` is seeded from the run's seed. */
  def round(ctx: Ctx, rnd: Random): Seq[Op]
  /** Every op any seed can run, in an order a fresh set-up can run them:
    * the ops whose expected results `expected.tsv` holds.
    */
  def recordable(ctx: Ctx): Seq[Op]
}

object Workloads {
  val all: Seq[Workload] = Seq(DailyJob, AnalystSuite)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (expected one of ${all.map(_.name).mkString(", ")})"))

  /** The fixture's first order date (sf0.1's). */
  val Start: LocalDate = LocalDate.parse("1995-01-01")
  def day(i: Int): LocalDate = Start.plusDays(i.toLong)

  val InsightsFormat: String = classOf[FbInsightsDataSource].getName

  def registryOp(name: String, module: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"$name is not in SparkEntry.queries"))
    Op(s"query:$name", module)(ctx => fn(ctx.spark, ctx.sf))
  }
}

/** The reference's own daily job in steady state: [[HistoryDays]] days of
  * `fb_stat` and `exchange_rate` history, then one following day per op.
  */
object DailyJob extends Workload {
  val name = "daily_job"
  val HistoryDays = 120
  /** The seed picks the history's first day among this many offsets. */
  val Offsets = 20
  val WarmupDays = 8
  /** Days the fixture holds past the last history an op may append. */
  val MaxOps = 55
  /** Order dates the fixture must hold: every day any seed can reach. */
  val FixtureDays: Int = HistoryDays + Offsets - 1 + WarmupDays + MaxOps

  /** Day indices a run with `seed` appends, in order: the warm-up days,
    * then the timed ones.
    */
  def days(seed: Long): Seq[Int] = {
    val first = new Random(seed).nextInt(Offsets) + HistoryDays
    first until first + WarmupDays + MaxOps
  }

  private var pending: Iterator[Int] = Iterator.empty

  private def fbPath(ctx: Ctx) = ctx.scratch.resolve("daily/fb_stat").toString
  private def fxPath(ctx: Ctx) = ctx.scratch.resolve("daily/exchange_rate").toString
  private def dateLit(d: LocalDate) = lit(d.toString).cast("date")

  private def loadHistory(ctx: Ctx, from: Int): Unit = {
    val spark = ctx.spark
    val spool = ctx.phase("spool")(FbInsightsSource.jsonlPath(spark, ctx.sf))
    ctx.phase("history") {
      val (a, b) = (Workloads.day(from).toString, Workloads.day(from + HistoryDays).toString)
      val raw = spark.read.format(Workloads.InsightsFormat).option("path", spool).load()
        .filter(col("date_start") >= a && col("date_start") < b)
      Sink.appendPartitioned(Normalize(raw), fbPath(ctx))
      Sink.append(RatesSource.rates(spark, ctx.sf)
        .filter(col("date") >= lit(a).cast("date") && col("date") < lit(b).cast("date")),
        fxPath(ctx))
    }
  }

  def setup(ctx: Ctx, seed: Long): Unit = {
    val ds = days(seed)
    pending = ds.iterator
    loadHistory(ctx, ds.head - HistoryDays)
  }

  def warmup(ctx: Ctx): Seq[Op] = (0 until WarmupDays).map(_ => nextDay())

  def round(ctx: Ctx, rnd: Random): Seq[Op] = {
    require(pending.hasNext,
      s"daily_job ran past its $MaxOps fixture days; raise MaxOps or shorten the window")
    Seq(nextDay())
  }

  /** Every day any seed appends, after the first offset's history. */
  def recordable(ctx: Ctx): Seq[Op] = {
    loadHistory(ctx, 0)
    (HistoryDays until FixtureDays).map(i => dayOp(i))
  }

  private def nextDay(): Op = dayOp(pending.next())

  /** One day: day-pruned DSv2 insights scan → Normalize → partitioned
    * append; the day's FX rate → append; then read the day back, join it
    * to its rate and roll it up by campaign. Money stays in exact
    * decimals, so the digest sees a change in any cent.
    */
  def dayOp(i: Int): Op = dayOp(Workloads.day(i))

  def dayOp(d: LocalDate): Op = Op(s"day:$d", "etl") { ctx =>
    val spark = ctx.spark
    val spool = FbInsightsSource.jsonlPath(spark, ctx.sf)
    val scan = ctx.spans("sources.scan") {
      spark.read.format(Workloads.InsightsFormat).option("path", spool).load()
        .filter(col("date_start") === d.toString)
    }
    val skipped0 = FbInsightsDataSource.lastSkippedRows.get()
    ctx.spans("etl.sink")(Sink.appendPartitioned(Normalize(scan), fbPath(ctx)))
    ctx.count("sources.planned_partitions", FbInsightsDataSource.lastPlannedPartitions.get())
    ctx.count("sources.skipped_rows", (FbInsightsDataSource.lastSkippedRows.get() - skipped0).toDouble)
    val dayDir = Paths.get(fbPath(ctx), s"date=$d")
    if (Files.isDirectory(dayDir)) {
      val files = Files.list(dayDir)
      try ctx.count("etl.files_written",
        files.filter(_.getFileName.toString.endsWith(".parquet")).count().toDouble)
      finally files.close()
    }
    ctx.spans("etl.fx") {
      Sink.append(RatesSource.rates(spark, ctx.sf).filter(col("date") === dateLit(d)), fxPath(ctx))
    }
    val (fb, fx) = ctx.spans("etl.table_open") {
      (spark.read.parquet(fbPath(ctx)), spark.read.parquet(fxPath(ctx)))
    }
    fb.filter(col("date") === dateLit(d))
      .join(broadcast(fx.filter(col("date") === dateLit(d))), Seq("date"))
      .groupBy("date", "campaign_id", "campaign_name")
      .agg(
        sum("clicks").as("clicks"),
        sum("impressions").as("impressions"),
        sum(col("spend").cast(DecimalType(18, 2))).as("spend"),
        sum((col("spend") * col("rate")).cast(DecimalType(18, 4))).as("spend_uah"))
  }
}

/** An analyst session: a fixed sample of the registry, one query from
  * each module under `graft.queries` and `graft.llm` except AnnServe (see
  * [[Sample]]); the seed orders each round. One session runs them all, so
  * memo, cache and scratch builds happen once, in the warm-up.
  */
object AnalystSuite extends Workload {
  val name = "analyst_suite"

  /** (query, module): chosen for moderate cost and for reaching the
    * kernels (`graft.functions`) and plan rules (`graft.plans`) the daily
    * job does not touch. q_daily reads the `fb_stat` table that
    * `Sink.appendPartitioned` writes, the daily job's write path.
    * x_stream_dedup is StreamingOps' micro-batch drain, the suite's
    * streaming op. AnnServe is left out: every one of its queries first
    * builds an ANN index, about 10 s per fresh JVM.
    */
  val Sample: Seq[(String, String)] = Seq(
    "q_daily" -> "queries.EtlQueries",
    "x_join_card" -> "queries.ScaleQueries",
    "x_did" -> "llm.Analytics",
    "x_freq_cap" -> "llm.Attribution",
    "x_dedup_exact" -> "llm.Dedup",
    "x_latest" -> "llm.Events",
    "x_graph_degree" -> "llm.Graph",
    "x_mm_features" -> "llm.Multimodal",
    "x_pca" -> "llm.Pca",
    "x_dataset_card" -> "llm.Pipeline",
    "x_kanon" -> "llm.Profile",
    "x_quantile_sketch" -> "llm.QuantileSketch",
    "x_rand_proj" -> "llm.Quantize",
    "x_sample_topk" -> "llm.Sampling",
    "x_sim_brute" -> "llm.Similarity",
    "x_stream_dedup" -> "llm.StreamingOps",
    "x_token_count" -> "llm.TextAnalysis")

  val modules: Seq[String] = Sample.map(_._2)

  private def ops: Seq[Op] = Sample.map { case (q, m) => Workloads.registryOp(q, m) }

  def setup(ctx: Ctx, seed: Long): Unit =
    ctx.phase("fb_stat")(graft.queries.EtlQueries.fbStatTable(ctx.spark, ctx.sf).head())

  def warmup(ctx: Ctx): Seq[Op] = ops
  def round(ctx: Ctx, rnd: Random): Seq[Op] = rnd.shuffle(ops)
  def recordable(ctx: Ctx): Seq[Op] = { setup(ctx, 0); ops }
}
