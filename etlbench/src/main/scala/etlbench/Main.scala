package etlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One measured run: set up a workload in this fresh JVM, run its ops in a
  * closed loop with one client thread for up to `--seconds` (whole rounds,
  * at least one), check
  * every op's digest against `expected.tsv`, and write the metrics as JSON
  * to `--out`.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --fixture DIR --expected FILE --out FILE
  *   Main --record DIR --workload W --cores C --fixture DIR
  *
  * `--record` runs every op any seed can reach once and writes their
  * digests (`expected.tsv`) and results (parquet) for the oracle
  * cross-check in `crosscheck.py`.
  */
object Main {
  final case class OpRun(op: Op, seconds: Double, ok: Boolean, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(args("workload"))
    val cores = args.getOrElse("cores", "4").toInt
    val scratch = Paths.get(System.getProperty("java.io.tmpdir"))
    val sessionT0 = System.nanoTime()
    val spark = Session.create(cores)
    val ctx = new Ctx(spark, args("fixture"), scratch)
    ctx.setup("setup.session_s") = (System.nanoTime() - sessionT0) / 1e9
    try args.get("record") match {
      case Some(dir) => record(ctx, workload, Paths.get(dir))
      case None => measure(ctx, workload, args)
    } finally spark.stop()
  }

  def loadExpected(path: Path): Map[String, Digest.Result] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .map(f => f(0) -> Digest.Result(f(1).toLong, f(2)))
      .toMap

  /** Run one op, timed, and compare its digest with the expected one. */
  def runOp(ctx: Ctx, op: Op, expected: Map[String, Digest.Result],
      tracer: Option[Tracer]): OpRun = {
    val before = tracer.map(_.snapshot())
    val counters0 = ctx.counters.toMap
    ctx.spans.clear()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome =
      try {
        val got = ctx.spans("op") {
          val df = op.body(ctx)
          ctx.spans("op.result")(Digest.of(df))
        }
        expected.get(op.id) match {
          case Some(want) if want == got => Right(())
          case Some(want) => Left(s"digest mismatch: got $got, expected $want")
          case None => Left(s"no expected result for ${op.id}")
        }
      } catch { case e: Throwable => Left(e.toString.takeWhile(_ != '\n').take(300)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    System.err.println(f"[etlbench] ${op.id} $seconds%.3fs ${outcome.fold(e => s"FAILED: $e", _ => "ok")}")
    val layers = tracer.zip(before).map { case (t, b) =>
      val after = t.snapshot()
      val spark = after.map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }
      val own = ctx.counters.map { case (k, v) => k -> (v - counters0.getOrElse(k, 0.0)) }
      val spans = ctx.spans.spans.map(_.name).distinct
        .map(n => s"span.$n" -> ctx.spans.totals(n)._1 / 1e9)
      spark ++ own ++ spans ++ Seq(
        "op.self_s" -> ctx.spans.totals("op")._2 / 1e9,
        "scheduler.driver_only_s" -> t.driverOnlyMs(startMs, endMs) / 1e3)
    }.getOrElse(Map.empty)
    OpRun(op, seconds, outcome.isRight, layers)
  }

  /** Correct ops over attempted ops: a digest mismatch or an exception
    * counts against it.
    */
  def okFrac(runs: Seq[OpRun]): Double = runs.count(_.ok).toDouble / runs.size

  /** Used heap after full collections, with pauses so the context
    * cleaner can release what the first collection made unreachable.
    */
  private def heapUsedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def measure(ctx: Ctx, w: Workload, args: Map[String, String]): Unit = {
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val expected = loadExpected(Paths.get(args("expected")))
    val tracer = if (trace) Some(new Tracer(ctx.spark)) else None

    w.setup(ctx, seed)
    val warm = ctx.phase("warmup")(w.warmup(ctx).map(runOp(ctx, _, expected, None)))
    warm.filterNot(_.ok).foreach(r => System.err.println(s"[etlbench] warm-up ${r.op.id} failed"))

    val rnd = new Random(seed)
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val firstOpMs = System.currentTimeMillis()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Whole rounds: the first always runs; a further one starts only if a
    // round as long as the last still fits in the window. A round that
    // takes most of the window therefore runs once on every box, instead
    // of once on a slow box and twice on a fast one.
    var lastRound = 0.0
    while (runs.isEmpty || elapsed + lastRound <= seconds) {
      val r0 = elapsed
      w.round(ctx, rnd).foreach(op => runs += runOp(ctx, op, expected, tracer))
      lastRound = elapsed - r0
    }
    val wall = elapsed
    val gc = gcSeconds() - gc0
    val heap = heapUsedMb()
    val (scratchBytes, scratchFiles) = Cleanup.size(ctx.scratch)

    val times = runs.map(_.seconds).toSeq
    val tail = Stats.tail(times)
    val e2e = Seq(
      "ops_per_s" -> (runs.size / wall, "1/s"),
      "op_p50_s" -> (Stats.median(times), "s"),
      "heap_retained_mb" -> (heap, "MB"),
      "ok_frac" -> (okFrac(runs.toSeq), "ratio"))
    val layers = if (trace) Layers.of(ctx, w, runs.toSeq, wall, gc, scratchBytes, scratchFiles)
      else Seq.empty
    val fields = Seq(
      "first_op_ms" -> firstOpMs.toString,
      "attempted" -> runs.size.toString,
      "failed" -> runs.count(!_.ok).toString,
      "tail_percentile" -> Json.num(tail.percentile),
      "window_s" -> Json.num(wall),
      "e2e" -> Json.metrics(e2e),
      "layers" -> Json.metrics(layers))
    Files.writeString(Paths.get(args("out")), Json.obj(fields))
  }

  def record(ctx: Ctx, w: Workload, dir: Path): Unit = {
    Files.createDirectories(dir.resolve("results"))
    val ops = w.recordable(ctx)
    val lines = ops.map { op =>
      val df = op.body(ctx)
      val d = Digest.of(df)
      val safe = op.id.replaceAll("[^A-Za-z0-9_.-]", "_")
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"results/$safe").toString)
      System.err.println(s"[etlbench] recorded ${op.id} ${d.rows} ${d.digest}")
      s"${op.id}\t${d.rows}\t${d.digest}"
    }
    Files.write(dir.resolve(s"${w.name}.tsv"), lines.asJava)
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(dir.resolve(s"${w.name}.oracle.json"), Json.obj(
      ops.map(_.id).filter(_.startsWith("query:")).map(_.stripPrefix("query:"))
        .flatMap(q => oracle.get(q).map(sql => q -> Json.str(sql)))))
  }
}

/** Per-layer metrics of a traced run: per-op means of every counter and
  * span, plus set-up phases and end-of-window state.
  */
object Layers {
  val SetupPhases = Seq("session", "spool", "fb_stat", "history", "warmup")

  /** Benchmark-side spans around the daily job's calls into `graft.etl`. */
  val EtlSpans = Seq("etl.sink", "etl.fx", "etl.table_open")

  val Counters: Seq[(String, String)] = Seq(
    "etl.files_written" -> "count", "sources.planned_partitions" -> "count",
    "sources.skipped_rows" -> "count",
    "driver.analysis_s" -> "s", "driver.optimizer_s" -> "s", "driver.planning_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.driver_only_s" -> "s",
    "tasks.run_s" -> "s", "tasks.cpu_s" -> "s", "tasks.gc_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "io.input_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.input_rows" -> "count",
    "streaming.trigger_s" -> "s", "streaming.addBatch_s" -> "s",
    "streaming.queryPlanning_s" -> "s", "streaming.getBatch_s" -> "s",
    "streaming.latestOffset_s" -> "s", "streaming.walCommit_s" -> "s",
    "streaming.commitOffsets_s" -> "s", "streaming.state_commit_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    // op time outside every child span: benchmark-side bookkeeping
    "op.self_s" -> "s")

  def of(ctx: Ctx, w: Workload, runs: Seq[Main.OpRun], wall: Double, gc: Double,
      scratchBytes: Long, scratchFiles: Long): Seq[(String, (Double, String))] = {
    def mean(k: String): Double = runs.map(_.layers.getOrElse(k, 0.0)).sum / runs.size
    val opTimes = runs.map(_.seconds)
    val sc = ctx.spark.sparkContext
    val modules = AnalystSuite.modules.map { m =>
      val ts = runs.filter(_.op.module == m).map(_.seconds)
      s"module.$m.op_s" -> (if (ts.isEmpty) 0.0 else Stats.median(ts), "s")
    }
    SetupPhases.map(p => s"setup.${p}_s" -> (ctx.setup.getOrElse(s"setup.${p}_s", 0.0), "s")) ++
      Seq("io.scratch_mb" -> (scratchBytes / 1e6, "MB"),
        "io.scratch_files" -> (scratchFiles.toDouble, "count")) ++
      Counters.map { case (k, unit) => k -> (mean(k), unit) } ++
      EtlSpans.map(s => s"${s}_s" -> (mean(s"span.$s"), "s")) ++
      Seq(
        // the daily job's read-back is the action its result digest runs
        "etl.readback_s" -> (if (w == DailyJob) mean("span.op.result") else 0.0, "s"),
        "tasks.parallel_frac" -> (runs.map(_.layers.getOrElse("tasks.run_s", 0.0)).sum /
          opTimes.sum, "ratio"),
        "reuse.persistent_rdds" -> (sc.getPersistentRDDs.size.toDouble, "count"),
        "reuse.cached_mb" -> (sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6,
          "MB"),
        "jvm.gc_s" -> (gc, "s"),
        "trace.ops_per_s" -> (runs.size / wall, "1/s"),
        "trace.op_p50_s" -> (Stats.median(opTimes), "s"),
        "trace.op_tail_s" -> (Stats.tail(opTimes).value, "s")) ++
      modules
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, unit)) => k -> obj(Seq("value" -> num(v), "unit" -> str(unit))) })
}
