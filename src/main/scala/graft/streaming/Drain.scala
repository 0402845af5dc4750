package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.ReuseBridge
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared drain-a-stream-into-parquet machinery for the synchronous
  * streaming queries (streamingDaily, streamingSessions, qStreamLoad):
  * append-mode file sink + checkpoint, drained with processAllAvailable,
  * then read back as a batch DataFrame.
  */
object Drain {

  /** Engine-reported drain accounting from StreamingQueryProgress.
    * NOTE `droppedByWatermark` counts only late rows that REACH a state
    * store; the derived watermark filter ahead of the stateful operator
    * removes most late rows without incrementing it — so drop totals
    * should be derived from `inputRows` minus sink output, with this
    * counter as a supporting signal only.
    */
  case class DrainStats(inputRows: Long, droppedByWatermark: Long)

  /** ~128 MB of batch input per shuffle/state partition (guide §2.1's
    * partition-sizing target), floored at the Drain-measured fixture
    * minimum of 4 (see [[run]]'s scaladoc for that measurement).
    */
  val TargetBytesPerPartition: Long = 128L * 1024 * 1024

  /** Scale-adaptive partition count for `batchBytes` of per-micro-batch
    * input: `max(floor, ceil(batchBytes / 128 MB))`. This is the formula
    * the [[run]] scaladoc promises ("scales UP with volume on a real
    * cluster") — at fixture volume (≤11 MB staged zones) it returns the
    * measured floor of 4, so local bench numbers are unchanged; at
    * production batch volumes the count grows with the data instead of
    * serializing every per-batch shuffle through a constant.
    */
  def partitionsForBytes(batchBytes: Long, floor: Int = 4): Int =
    math.max(floor.toLong,
      (batchBytes + TargetBytesPerPartition - 1) / TargetBytesPerPartition)
      .toInt

  /** [[partitionsForBytes]] over a staged landing zone: the per-trigger
    * batch volume is the whole zone for drains that take every staged
    * file in one micro-batch, or the largest staged file for the
    * `maxFilesPerTrigger=1` replay sources (`perTriggerFiles = Some(1)`
    * sizes by the largest `k` files — the worst-case micro-batch).
    */
  def adaptivePartitions(srcDir: Path,
      perTriggerFiles: Option[Int] = None): Int = {
    val sizes: Seq[Long] =
      if (!Files.isDirectory(srcDir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val listing = Files.list(srcDir)
        try listing.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).toSeq
        finally listing.close()
      }
    val batchBytes = perTriggerFiles match {
      case Some(k) => sizes.sorted(Ordering[Long].reverse).take(k).sum
      case None => sizes.sum
    }
    partitionsForBytes(batchBytes)
  }

  /** The fixture floor of [[partitionsForBytes]] — a derived count at
    * this value means the per-trigger batch is ≤ ~512 MB.
    */
  val PartitionFloor = 4

  /** The session a `foreachBatch` drain starts its stream from: shuffle
    * partitions pinned to `n` (a micro-batch query snapshots its session's
    * conf at `start()`, so this is the per-batch count) and, when `n` sits
    * at the fixture floor (batch ≤ ~512 MB), adaptive query execution off
    * for the per-batch bodies: AQE materializes EVERY exchange of every
    * per-batch action as its own scheduled job so it can re-optimize
    * between stages (measured on the curation funnel: ~23 stage-jobs per
    * micro-batch, 20–150 ms each — ~1.3 s/drain of pure scheduling), and
    * below the floor there is nothing to re-optimize — no partitions to
    * coalesce below the floor, no skew to split in single-digit-task
    * stages. At production batch volumes (count above the floor) AQE
    * stays ON — coalescing and skew handling earn their per-stage jobs
    * there. The pins live on a [[graft.Session.pinned]] child; the
    * caller's session is never written.
    */
  def batchSession(spark: SparkSession, n: Int): SparkSession =
    streamSession(spark, Seq(ShufflePartitions -> n.toString) ++
      (if (n <= PartitionFloor) Seq("spark.sql.adaptive.enabled" -> "false") else Nil): _*)

  /** Stop `q` and release what it leaves behind in this JVM: the
    * state-store providers of its run, which Spark's maintenance pass
    * would otherwise keep loaded for up to a minute (a finished
    * x_stream_dedup drain on the benchmark fixture held ~21 MB of state
    * rows), and, when `child` is the drain-made session `q` started from,
    * that session's streaming listener bus, which would otherwise stay
    * registered on the SparkContext for the JVM's life. Only `q`'s own
    * run is touched, so
    * streams running concurrently keep their providers. Not
    * `StateStore.unloadAll`, which would drop every running stream's
    * providers, and not `stateStore.unloadOnCommit`, which reloads state
    * on every micro-batch of the multi-batch replay drains.
    */
  def stop(q: StreamingQuery, child: Option[SparkSession]): Unit =
    try q.stop()
    finally {
      ReuseBridge.unloadStores(q.runId)
      child.foreach(ReuseBridge.removeStreamBus)
    }

  /** A [[graft.Session.pinned]] child to start a stream from, with the
    * caller's streaming-query listeners registered on it too: a listener
    * only hears queries started from its own session, and a caller that
    * watches its session's streams must still see this drain's progress.
    */
  private def streamSession(spark: SparkSession, pins: (String, String)*): SparkSession = {
    val child = graft.Session.pinned(spark, pins: _*)
    spark.streams.listListeners().foreach(child.streams.addListener)
    child
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Low-level: run `stream` into `outDir` with `ckptDir`, synchronously.
    *
    * `shufflePartitions` sizes the stateful operators' state-store count
    * for the stream's data volume (a micro-batch query pins its
    * partition count at first start from its session's conf): every
    * stateful partition costs checkpointed store files PER MICRO-BATCH
    * regardless of how little state it holds, so an oversized count is
    * pure fixed overhead — measured here, a stream-stream join over the
    * sf0.1 fixture spends most of its wall clock on 32-partition state
    * churn that 8 partitions absorb, and dropping to 4 shaved a further
    * ~17% off the streaming family's wall clock with bit-identical
    * results (most of these drains key state on event_type — 5 keys —
    * or a user hash whose fixture volume 4 stores absorb). On a real
    * cluster the same knob scales UP with key cardinality and volume.
    * The count is pinned on a [[graft.Session.pinned]] child the stream
    * starts from; the caller's session, and the batch queries in it,
    * never see it.
    *
    * The state store stays the default HDFS-backed provider. Measured
    * (sf0.1, local[32], idle box) over the six stateful drains: 19.1 s
    * with it, 21.9 s with RocksDB, 19.3 s with RocksDB plus changelog
    * checkpointing. At fixture scale every store holds a few KB, so the
    * in-memory map and tiny snapshot files are near-free, while RocksDB
    * pays a native open/flush/compact cycle per partition per
    * micro-batch. RocksDB becomes the right choice only when
    * per-partition state outgrows executor heap.
    *
    * When the drain ends, [[stop]] unloads the state-store providers of
    * its run, and the listener bus of the child session it started from.
    *
    * Returns [[DrainStats]] summed across the drained micro-batches
    * (most callers ignore it; x_stream_late asserts on it).
    */
  def run(stream: DataFrame, outDir: String, ckptDir: String,
          shufflePartitions: Option[Int] = None): DrainStats = {
    val child = shufflePartitions.map(n =>
      streamSession(stream.sparkSession, ShufflePartitions -> n.toString))
    val spark = child.getOrElse(stream.sparkSession)
    val q = graft.Session.in(spark, stream).writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .start()
    try {
      q.processAllAvailable()
      val ps = q.recentProgress.toSeq
      // recentProgress is a RING (spark.sql.streaming.numRecentProgressUpdates,
      // default 100): a drain with more micro-batches than the ring
      // would silently UNDERCOUNT inputRows — fail loudly instead
      val cap = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100").toInt
      require(ps.length < cap,
        s"drain produced >= $cap micro-batches; recentProgress ring " +
          "overflowed and DrainStats would undercount — raise " +
          "spark.sql.streaming.numRecentProgressUpdates for this drain")
      DrainStats(
        ps.map(_.numInputRows).sum,
        ps.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum)
    } finally stop(q, child)
  }

  /** Work-dir variant: drain into `work/out`, then immediately delete the
    * checkpoint and any staged inputs (`alsoDelete`) — they are dead once
    * the drain finishes. The sink files stay (the returned DataFrame
    * reads them lazily); `work` comes from [[graft.etl.Scratch.workDir]],
    * so they go with the process's scratch root at exit.
    */
  def toParquet(stream: DataFrame, work: Path, alsoDelete: Seq[Path] = Nil,
                shufflePartitions: Option[Int] = None): DataFrame =
    toParquetWithStats(stream, work, alsoDelete, shufflePartitions)._1

  /** [[toParquet]] plus the drain's [[DrainStats]]. */
  def toParquetWithStats(stream: DataFrame, work: Path, alsoDelete: Seq[Path] = Nil,
                         shufflePartitions: Option[Int] = None): (DataFrame, DrainStats) = {
    val outDir = work.resolve("out").toString
    val stats = run(stream, outDir, work.resolve("ckpt").toString, shufflePartitions)
    (work.resolve("ckpt") +: alsoDelete).foreach(deleteRecursively)
    (stream.sparkSession.read.parquet(outDir), stats)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val entries = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      entries.foreach(f =>
        try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
    }
}
