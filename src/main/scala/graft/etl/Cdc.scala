package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change-data-capture apply + copy-on-write maintenance — the mutation
  * half of a lakehouse sink that the reference's append-only
  * `insert_rows_json` (main.py:81-91) delegates to BigQuery. Both
  * operators use a tiny versioned-snapshot commit protocol (numbered
  * snapshot dirs + a `_current` pointer file written last), the miniature
  * of an Iceberg/Delta manifest commit: readers resolve the pointer and
  * never observe a half-written snapshot.
  */
object Cdc {

  private[graft] def writePointer(root: java.nio.file.Path, version: Long): Unit = {
    // write-then-move so the pointer flip is atomic for readers
    val tmp = root.resolve("_current.tmp")
    java.nio.file.Files.writeString(tmp, version.toString)
    java.nio.file.Files.move(tmp, root.resolve("_current"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private[graft] def currentVersion(root: java.nio.file.Path): Long =
    java.nio.file.Files.readString(root.resolve("_current")).trim.toLong

  /** The foreachBatch body of [[streamUpsert]]: full-outer-merge one
    * micro-batch of change rows into the current snapshot and commit the
    * result as the next version (pointer flips last). Factored out so the
    * restart-recovery spec can drive the SAME merge logic through a
    * stop-mid-stream + resume-from-checkpoint cycle.
    */
  private[graft] def applyChangeBatch(
      spark: SparkSession, snapRoot: java.nio.file.Path)(
      batch: DataFrame, batchId: Long): Unit = {
    val v = currentVersion(snapRoot)
    val cur = spark.read.parquet(snapRoot.resolve(s"v$v").toString)
    val ch = batch
      .withColumnRenamed("currencies", "u_currencies")
      .withColumnRenamed("rate", "u_rate")
    val merged = cur.join(ch, Seq("date"), "full_outer")
      .select(
        col("date"),
        coalesce(col("u_currencies"), col("currencies")).as("currencies"),
        coalesce(col("u_rate"), col("rate")).as("rate"))
    merged.write.parquet(snapRoot.resolve(s"v${v + 1}").toString)
    writePointer(snapRoot, v + 1) // commit: readers flip to v+1
    ()
  }

  /** X-STREAM-UPSERT: a stream of change rows applied to a keyed snapshot
    * with `foreachBatch` — per micro-batch, the current snapshot
    * full-outer-merges the batch's changes on the key and commits as a
    * NEW snapshot version (copy-on-write; the pointer flips only after
    * the write completes). This is how Structured Streaming expresses
    * MERGE targets: the file sink is append-only, so upsert lives in
    * foreachBatch against a versioned table. The change set is q_merge's
    * (rate corrections + five new days, ONE change per key, so the end
    * state is batching-independent); the final snapshot must equal the
    * batch MERGE oracle. At scale the inner merge prunes to the
    * partitions holding the batch's keys — a micro-batch touches few.
    */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val work = graft.etl.Scratch.workDir("stream_upsert_")
    val snapRoot = work.resolve("snap")
    java.nio.file.Files.createDirectories(snapRoot)

    // v0: the current rates snapshot
    val base = RatesSource.rates(spark, sfDir)
    base.write.parquet(snapRoot.resolve("v0").toString)
    writePointer(snapRoot, 0L)

    // the change stream: q_merge's deterministic change set staged as
    // files (update rows for %3 days; five inserted days past the max)
    val maxDate = base.agg(max("date")).head().getDate(0)
    val updates = base
      .filter(dayofmonth(col("date")) % 3 === 0)
      .select(col("date"), col("currencies"), (col("rate") + 0.5).as("rate"))
    val inserts = spark.range(1, 6)
      .select(
        date_add(lit(maxDate), col("id").cast("int")).as("date"),
        lit("USDUAH").as("currencies"),
        (lit(30.0) + col("id").cast("double")).as("rate"))
    val chDir = work.resolve("changes")
    updates.unionByName(inserts).write.parquet(chDir.toString)

    val changes = spark.readStream
      .schema(base.schema)
      .parquet(chDir.toString)

    val q = changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch(applyChangeBatch(spark, snapRoot) _)
      .start()
    try q.processAllAvailable()
    finally graft.streaming.Drain.stop(q, None)

    val v = currentVersion(snapRoot)
    val out = spark.read.parquet(snapRoot.resolve(s"v$v").toString)
      .orderBy("date")
    // checkpoint is dead now; the snapshot chain must outlive the call
    // (the returned DataFrame reads it lazily) → it goes with the work dir
    graft.streaming.Drain.deleteRecursively(work.resolve("ckpt"))
    out
  }

  /** The two-version rates chain [[timeTravel]] and [[changeFeed]] read:
    * v0 = the rates load, v1 = the post-MERGE state (q_merge's change
    * set), pointer on v1. Built once per process; returns its root.
    */
  private def versionedChain(spark: SparkSession, sfDir: String): String = {
    val root = Sink.scratchPath(sfDir, "rates_versioned")
    val rootP = java.nio.file.Paths.get(root)
    Scratch.once(root) {
      RatesSource.rates(spark, sfDir)
        .write.parquet(rootP.resolve("v0").toString)
      writePointer(rootP, 0L)
      graft.queries.EtlQueries.qMerge(spark, sfDir)
        .select("date", "currencies", "rate")
        .write.parquet(rootP.resolve("v1").toString)
      writePointer(rootP, 1L) // commit: v1 becomes the current version
    }
  }

  /** X-TIME-TRAVEL: version-pinned reads over the snapshot chain — the
    * lakehouse `VERSION AS OF` surface on top of the same numbered-dir +
    * pointer commit protocol streamUpsert writes through. v0 is the
    * original rates load, v1 the post-MERGE state (q_merge's change set);
    * reading BOTH versions side by side is exactly a reproducibility
    * audit ("which rates did yesterday's job see?"). The snapshots are
    * immutable once the pointer moves past them, so a version read needs
    * no locks at any scale — it's a plain parquet scan of a frozen dir.
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val rootP = java.nio.file.Paths.get(versionedChain(spark, sfDir))
    require(currentVersion(rootP) == 1L, "pointer must be at the latest version")
    def at(v: Long): DataFrame =
      spark.read.parquet(rootP.resolve(s"v$v").toString)
        .withColumn("version", lit(v))
    at(0L).unionByName(at(1L))
      .groupBy("version")
      .agg(
        count(lit(1)).as("n"),
        min("date").as("min_date"),
        max("date").as("max_date"),
        sum(col("rate").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_rate"))
      .orderBy("version")
  }

  /** X-CHANGE-FEED: the READ half of CDC — the row-level diff between two
    * committed snapshot versions (`table_changes(v0, v1)` / readChangeFeed
    * semantics): every key tagged insert / update / delete with its old
    * and new values, unchanged rows NOT emitted (a change feed is sparse
    * by contract — downstream incremental consumers must never reprocess
    * the unchanged majority). Computed as a full-outer join of the two
    * immutable snapshot dirs on the key — at scale this prunes to the
    * partitions the commit touched (and a format with a changelog reads
    * that instead; the join is the format-agnostic fallback that needs
    * only the snapshots themselves). Chain is [[timeTravel]]'s (v0 = the
    * rates load, v1 = post-MERGE): updates on day%3==0, five inserts, no
    * deletes — the oracle re-derives both states and the same diff.
    */
  def changeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Paths.get(versionedChain(spark, sfDir))
    val v0 = readVersion(spark, root, 0L).select(col("date"), col("rate").as("old_rate"))
    val v1 = readVersion(spark, root, 1L).select(col("date"), col("rate").as("new_rate"))
    v0.join(v1, Seq("date"), "full_outer")
      .select(col("date"), col("old_rate"), col("new_rate"),
        when(col("old_rate").isNull, "insert")
          .when(col("new_rate").isNull, "delete")
          .when(col("old_rate") =!= col("new_rate"), "update")
          .otherwise("nochange").as("change_type"))
      .filter(col("change_type") =!= "nochange")
      .orderBy("date")
  }

  // ---- snapshot retention (X-VACUUM) ---------------------------------

  /** Versions staged by [[vacuum]] (v0..v3) and how many trailing ones
    * retention keeps. keepLast=2 ⇒ v0/v1 expire, v2/v3 survive.
    */
  val VacuumVersions = 4
  val VacuumKeep = 2

  /** Expire every snapshot older than the last `keepLast` versions: delete
    * the snapshot dirs and record the versions in a `_vacuumed` tombstone
    * file so later version reads fail LOUDLY ([[readVersion]]) instead of
    * with a generic missing-path error. The pointer is never touched — the
    * current version is always inside the kept window. Idempotent: already
    * -removed versions are skipped, tombstones accumulate exactly once.
    * This is the retention half every CoW table needs (Iceberg
    * expire_snapshots / Delta VACUUM): without it [[streamUpsert]] /
    * [[timeTravel]] chains grow one full table copy per commit, forever.
    */
  private[graft] def expireSnapshots(root: java.nio.file.Path, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "retention must keep at least the current version")
    val cur = currentVersion(root)
    val cutoff = cur - keepLast + 1 // keep [cutoff, cur]
    val removed = (0L until cutoff)
      .filter(v => java.nio.file.Files.exists(root.resolve(s"v$v")))
    // tombstone FIRST, delete SECOND: a crash between the two leaves a
    // tombstoned version whose dir still exists — reads stay loud, and
    // the next maintenance run re-lists and re-deletes it (tombstones
    // dedup). The reverse order would leave a deleted version with no
    // tombstone: reads degrade to a generic missing-path error.
    if (removed.nonEmpty) {
      val all = (vacuumedVersions(root) ++ removed).distinct.sorted
      val tmp = root.resolve("_vacuumed.tmp")
      java.nio.file.Files.writeString(tmp, all.mkString("\n"))
      java.nio.file.Files.move(tmp, root.resolve("_vacuumed"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    removed.foreach(v =>
      graft.streaming.Drain.deleteRecursively(root.resolve(s"v$v")))
    removed
  }

  private[graft] def vacuumedVersions(root: java.nio.file.Path): Seq[Long] = {
    val f = root.resolve("_vacuumed")
    if (!java.nio.file.Files.exists(f)) Seq.empty
    else java.nio.file.Files.readString(f).split("\n").toSeq
      .filter(_.nonEmpty).map(_.trim.toLong)
  }

  /** `VERSION AS OF` read that distinguishes "expired by retention" (a
    * tombstoned version — deliberate, loud) from "never existed".
    */
  private[graft] def readVersion(
      spark: SparkSession, root: java.nio.file.Path, v: Long): DataFrame = {
    if (vacuumedVersions(root).contains(v))
      throw new IllegalStateException(
        s"version $v was expired by snapshot retention (vacuum); " +
          s"oldest readable version is ${currentVersion(root) - VacuumKeep + 1}")
    val dir = root.resolve(s"v$v")
    if (!java.nio.file.Files.exists(dir))
      throw new IllegalArgumentException(s"version $v does not exist")
    spark.read.parquet(dir.toString)
  }

  /** X-VACUUM: snapshot retention over the versioned CoW chain. Stages a
    * 4-version rates chain (v_k = base rates with +k·0.25 on every
    * day%3==0 row, plus k appended days — each version deterministically
    * derivable so the oracle can recompute kept-version stats from the
    * fixture), expires all but the last [[VacuumKeep]] versions, and
    * emits the retention profile: every version ever committed, kept or
    * removed, with data stats for survivors (recomputed from the actual
    * surviving parquet — the hash proves vacuum didn't corrupt what it
    * kept) and NULL stats for expired ones (their data is GONE; a
    * non-null here could only come from a stale copy). The pointer stays
    * on the newest version throughout. At scale this is the maintenance
    * job that bounds table storage to keepLast copies.
    */
  def vacuum(spark: SparkSession, sfDir: String): DataFrame = {
    val rootS = Sink.scratchPath(sfDir, "rates_vacuum")
    val root = java.nio.file.Paths.get(rootS)
    Scratch.once(rootS) {
      (0 until VacuumVersions).foreach { k =>
        vacuumVersionK(spark, sfDir, k)
          .write.parquet(root.resolve(s"v$k").toString)
        writePointer(root, k.toLong)
      }
    }
    expireSnapshots(root, VacuumKeep) // idempotent across calls
    val cur = currentVersion(root)
    require(cur == VacuumVersions - 1, "pointer must stay on the newest version")
    val gone = vacuumedVersions(root).toSet
    val profile = (0L to cur).map { v =>
      if (gone.contains(v))
        spark.range(1).select(
          lit(v).as("version"), lit(false).as("kept"),
          lit(null).cast("bigint").as("n"),
          lit(null).cast("date").as("min_date"),
          lit(null).cast("date").as("max_date"),
          lit(null).cast("double").as("sum_rate"))
      else
        readVersion(spark, root, v).agg(
          count(lit(1)).as("n"),
          min("date").as("min_date"),
          max("date").as("max_date"),
          sum(col("rate").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_rate"))
          .select(lit(v).as("version"), lit(true).as("kept"),
            col("n"), col("min_date"), col("max_date"), col("sum_rate"))
    }
    profile.reduce(_ unionByName _).orderBy("version")
  }

  /** Content of chain version k (deterministic, oracle-mirrorable). */
  private[graft] def vacuumVersionK(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val base = RatesSource.rates(spark, sfDir)
    if (k == 0) base
    else {
      val maxDate = base.agg(max("date")).head().getDate(0)
      val upd = base.select(col("date"), col("currencies"),
        (col("rate") + when(dayofmonth(col("date")) % 3 === 0, lit(k * 0.25))
          .otherwise(lit(0.0))).as("rate"))
      val ins = spark.range(1, k + 1).select(
        date_add(lit(maxDate), col("id").cast("int")).as("date"),
        lit("USDUAH").as("currencies"),
        (lit(30.0) + col("id").cast("double")).as("rate"))
      upd.unionByName(ins)
    }
  }

  /** Q-DELETE: copy-on-write row deletion (the GDPR-erasure shape) over
    * the Z-ordered events copy — delete ONE user's events by rewriting
    * ONLY the files that contain that user, leaving every other file
    * byte-untouched (spec asserts most files survive with their
    * timestamps). The z-order layout is what makes the pruning real:
    * each file covers a bounded (day, user) box, so one user hits few
    * files. Mechanics per affected file: read, anti-filter, write the
    * replacement, then swap — the file-local miniature of a deletion
    * commit (real formats record the same swap in a manifest instead of
    * the directory). The oracle runs the anti-filter over the raw table:
    * deletion must be value-exact, not just row-count-right.
    */
  def delete(spark: SparkSession, sfDir: String): DataFrame = {
    val src = graft.queries.ScaleQueries.zorderLayout(spark, sfDir)
    val dst = Sink.scratchPath(sfDir, "events_zorder_deleted")
    Scratch.once(dst) {
      val all = spark.read.parquet(src)
      val victim = all.agg(min("user_id")).head().getLong(0) + 3
      // file inventory: which files contain the victim? (at 100 TB this
      // is a footer min/max check against the manifest, no data scan;
      // the z-layout keeps the affected set small either way)
      // input_file_name() yields a (possibly URL-encoded) file: URI;
      // compare decoded filesystem paths, not raw strings, so scratch
      // paths with spaces/special chars still match the listing
      def fsPath(s: String): String =
        try {
          val u = new java.net.URI(s)
          if (u.getPath == null) s else u.getPath
        } catch { case _: java.net.URISyntaxException => s }
      val affected = all
        .filter(col("user_id") === victim)
        .select(input_file_name().as("f")).distinct()
        .collect().map(r => fsPath(r.getString(0))).toSet
      val files = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      if (affected.nonEmpty && !files.exists(affected.contains))
        throw new IllegalStateException(
          s"${affected.size} files contain the victim but none matched the " +
            "directory listing — URI/path normalization mismatch; a silent " +
            "no-op here would leave the victim's rows in place")
      rewriteAffected(spark, files, affected, victim, dst)
    }
    val remaining = spark.read.option("recursiveFileLookup", "true").parquet(dst)
    remaining
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  /** The CoW rewrite step of [[delete]]: ALL affected files are rewritten
    * by ONE Spark job (a multi-path scan + anti-filter + write — each tiny
    * input file is its own task, so the rewrite parallelizes across the
    * affected set), and untouched files carry over as driver-side copies
    * (metadata work: a manifest format would just keep referencing them).
    * A victim spread over hundreds of files was previously a driver-serial
    * per-file loop — one Spark job PER file; job count is now independent
    * of the affected-file count (spec-asserted ≤ 2).
    */
  private[graft] def rewriteAffected(
      spark: SparkSession,
      files: Seq[String],
      affected: Set[String],
      victim: Long,
      dst: String): Unit = {
    val hit = files.filter(affected.contains)
    if (hit.nonEmpty) {
      spark.read.parquet(hit: _*)
        .filter(col("user_id") =!= victim)
        .write.parquet(s"$dst/rw_batch")
    }
    files.filterNot(affected.contains).foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(f),
        java.nio.file.Paths.get(dst, new java.io.File(f).getName))
    }
  }
}
