package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    val spark = df.sparkSession
    // One write task per day-partition: repartition on the partition key so
    // a 1000-executor write emits ~1 file per day, not tasks×days files.
    // AQE coalesces the small SF case back down.
    val clustered = df
      .repartition(org.apache.spark.sql.functions.col(partitionCol))
      .sortWithinPartitions(
        (partitionCol +: clusterCols).map(org.apache.spark.sql.functions.col): _*)
    clustered.write
      .mode("append")
      .partitionBy(partitionCol)
      .parquet(path)
    path
  }

  /** K-INS without a partition layout (the exchange_rate table: one row
    * per day — day-partitioning it would mean one file per row).
    * Append-only, at-least-once, exactly like `insert_rows_json`.
    */
  def append(df: DataFrame, path: String): String = {
    df.write.mode("append").parquet(path)
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
    fresh.write.mode("append").parquet(path)
    path
  }

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

  /** Total data bytes under `path` (recursive; skips `_`/`.` metadata
    * files) — the input-size side of size-targeted rewrites. A listing,
    * not a scan: at 100 TB this is the manifest's summed file sizes.
    */
  def dataBytes(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(Files.size)
        .sum
      finally s.close()
    }
  }

  /** Partition count that lands output files near `targetBytes` for
    * `bytes` of input — never 0, so empty/tiny inputs still write.
    */
  def sizedPartitions(bytes: Long, targetBytes: Long = TargetFileBytes): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
}
