package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.graftx.LoggedCommitProtocol

/** Sink side of the reference (SURVEY.md §2.3):
  *
  *  - K-DS / K-TBL  create-namespace/table-if-missing with declared layout
  *                  (reference main.py:44-78): day partitioning on `date`
  *                  (main.py:67-70) + clustering on
  *                  `campaign_id, campaign_name` (main.py:42,72-73).
  *  - K-INS         append-only, at-least-once row insert (main.py:81-91):
  *                  `insert_rows_json` has no dedup key and no transaction —
  *                  a rerun duplicates rows. We keep that fidelity: append
  *                  mode, never overwrite (Q-IDEM locks it).
  *
  * Commit: every append adds the files it wrote to the table's log,
  * `<table>/_spark_metadata` (Spark's file-sink log,
  * [[org.apache.spark.sql.graftx.LoggedCommitProtocol]]), and becomes
  * visible to readers at that log commit. `spark.read.parquet(<table>)`
  * and a catalog table at the location read the file list and the `date=`
  * partitions from the log, so no reader lists the table's directories.
  * A write that fails commits nothing, and a file the log does not list
  * is never read. The log does not change K-INS: a rerun still appends
  * its rows a second time (Q-IDEM). A writer that bypasses this object
  * would write rows no reader sees; none in the engine does.
  *
  * Spark mapping: BigQuery DAY time-partitioning → parquet
  * `partitionBy("date")` (partition pruning for free, asserted by Q-PRUNE);
  * BigQuery clustering → `sortWithinPartitions` before write, which gives
  * parquet row-group min/max stats the same zone-skipping role.
  *
  * Scale: `partitionBy` at 100 TB needs bounded files-per-task →
  * repartition by the partition column first so each task writes one file
  * per day instead of every task writing every day (small-files explosion).
  */
object Sink {

  /** K-TBL + K-INS: append `df` into a day-partitioned, clustered parquet
    * table at `path`, creating it with that layout on first write.
    * Returns the table path.
    */
  def appendPartitioned(
      df: DataFrame,
      path: String,
      partitionCol: String = Schemas.partitionCol,
      clusterCols: Seq[String] = Schemas.fbClusteringCols): String = {
    // One write task per day-partition: repartition on the partition key so
    // a 1000-executor write emits ~1 file per day, not tasks×days files.
    // AQE coalesces the small SF case back down.
    val clustered = df
      .repartition(org.apache.spark.sql.functions.col(partitionCol))
      .sortWithinPartitions(
        (partitionCol +: clusterCols).map(org.apache.spark.sql.functions.col): _*)
    logged(clustered).partitionBy(partitionCol).parquet(path)
    path
  }

  /** K-INS without a partition layout (the exchange_rate table: one row
    * per day — day-partitioning it would mean one file per row).
    * Append-only, at-least-once, exactly like `insert_rows_json`.
    */
  def append(df: DataFrame, path: String): String = {
    logged(df).parquet(path)
    path
  }

  /** K-INS with commit-time key idempotence (Q-IDEM-KEYED) — the
    * insertId-style dedup the reference explicitly does NOT request
    * (main.py:86-91 passes `insert_rows_json` no row_ids, so a retried
    * load duplicates; Q-IDEM locks that fidelity in). This is the sink a
    * consumer opts INTO when reruns must be no-ops: the incoming batch is
    * deduped within itself on the declared key, then anti-joined against
    * the keys already committed — a retry of the same batch lands ZERO
    * rows, a batch with genuinely new keys lands exactly those.
    *
    * Scale shape: the existing-keys probe reads ONLY the key columns
    * (column-pruned parquet scan — never the payload), and the
    * anti-join keys on them; with a day-batch vs years of history the
    * batch side broadcasts. Not transactional across concurrent writers
    * (that needs a table format's commit protocol); it is exactly the
    * per-load dedup BigQuery's insertId best-effort provides.
    */
  def appendKeyed(df: DataFrame, path: String, keys: Seq[String]): String = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val batch = df.dropDuplicates(keys)
    val fresh =
      if (!Files.exists(Paths.get(path))) batch
      else batch.join(
        spark.read.parquet(path).select(keys.map(col): _*), keys, "left_anti")
    logged(fresh).parquet(path)
    path
  }

  /** An append of `df` that commits to the table's log: the write runs in
    * a child session whose commit protocol is [[LoggedCommitProtocol]].
    * Each caller session keeps one such child, rebuilt when the caller's
    * conf changes; a fresh child per append cost ~50 ms of per-session
    * planner set-up on every write.
    */
  private def logged(df: DataFrame): DataFrameWriter[Row] = {
    val spark = df.sparkSession
    val conf = spark.conf.getAll
    val child = writers.compute(spark, (_, held) =>
      if (held != null && held._1 == conf) held
      else conf -> graft.Session.pinned(spark,
        "spark.sql.sources.commitProtocolClass" -> classOf[LoggedCommitProtocol].getName))._2
    graft.Session.in(child, df).write.mode("append")
  }

  private val writers = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (Map[String, String], SparkSession)]())

  /** Remove a directory that holds an unfinished write — a failed
    * [[Scratch.once]] build, or the temp side of a rewrite-and-swap —
    * so nothing is ever appended onto a half-load. A transient failure
    * is retried once, but the POST-CONDITION is verified: if the
    * directory still exists after both sweeps, this THROWS rather than
    * let a later build write into a dirty directory.
    */
  def dropUncommitted(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      def sweep(): Unit = {
        val walk = Files.walk(root)
        val entries =
          try walk.iterator().asScala.toSeq.reverse
          finally walk.close()
        entries.foreach(p => Files.deleteIfExists(p))
      }
      try sweep()
      catch {
        case _: java.nio.file.DirectoryNotEmptyException => ()
        case _: java.nio.file.NoSuchFileException => ()
        case _: java.io.UncheckedIOException => ()
      }
      if (Files.exists(root)) sweep() // second failure propagates
      require(!Files.exists(root),
        s"uncommitted staging at $path could not be removed (concurrent writer?)")
    }
  }

  /** Per-(sfDir, table) scratch location under this process's
    * [[Scratch.root]], so repeated reads (Q-PRUNE) can reuse a written
    * table within a JVM run — and never across runs.
    */
  def scratchPath(sfDir: String, table: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    Scratch.root.resolve(key).resolve(table).toString
  }

  /** Target output-file size for table-maintenance rewrites (compaction,
    * z-order) — the OPTIMIZE knob. 128 MB: big enough that file-open and
    * footer overhead amortizes, small enough that one file is a sane task
    * and row-group stats stay selective.
    */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Total data bytes under `path` — the input-size side of size-targeted
    * rewrites. A listing, not a scan: at 100 TB this is the manifest's
    * summed file sizes. Hidden files and directories are skipped as
    * Spark's own listing skips them: a name starting with `.`, or with
    * `_` unless it is a `col=value` partition directory. So the table's
    * log (`_spark_metadata`) and any `_temporary` staging are not data.
    */
  def dataBytes(path: String): Long = {
    import java.nio.file.{FileVisitResult, Path, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    def hidden(p: Path) = {
      val n = p.getFileName.toString
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    val root = Paths.get(path)
    var bytes = 0L
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (d != root && hidden(d)) FileVisitResult.SKIP_SUBTREE else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile && !hidden(f)) bytes += a.size
        FileVisitResult.CONTINUE
      }
    })
    bytes
  }

  /** Partition count that lands output files near `targetBytes` for
    * `bytes` of input — never 0, so empty/tiny inputs still write.
    */
  def sizedPartitions(bytes: Long, targetBytes: Long = TargetFileBytes): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
}
