/* The commit log of a table that `graft.etl.Sink` appends to.
 *
 * Every append records the files it wrote in `<table>/_spark_metadata`,
 * the log format of Spark's own streaming file sink
 * (`FileStreamSinkLog`). A plain `spark.read.parquet(<table>)`, and a
 * catalog table at that location, then take the table's files and
 * partitions from the log (`MetadataLogFileIndex`) instead of listing
 * its directories. The log classes live in Spark's execution package,
 * hence this file in the bridge package.
 */
package org.apache.spark.sql.graftx

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext

import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.streaming.ManifestFileCommitProtocol
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}

object SinkLog {
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** One lock per table in this JVM: the log's batch ids are taken and
    * written under it, so concurrent appends to one table each commit.
    */
  private[graftx] def lock(table: String): AnyRef =
    locks.computeIfAbsent(new Path(table).toUri.getPath, _ => new AnyRef)

  private def metadataPath(table: String) = new Path(table, FileStreamSink.metadataDir)

  /** The log of `table`, created empty if it does not exist. */
  def open(spark: SparkSession, table: String): FileStreamSinkLog =
    new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, metadataPath(table).toString)

  /** Open the log of `table` for an append. A table that already holds
    * data but has no log (written before appends were logged) is adopted
    * first: the files a directory listing finds become batch 0, so no row
    * written before the log is lost to readers.
    */
  private[graftx] def forAppend(spark: SparkSession, table: String): FileStreamSinkLog =
    lock(table).synchronized {
      val root = new Path(table)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val existing =
        if (!fs.exists(root) || fs.exists(metadataPath(table))) Nil
        else new InMemoryFileIndex(spark, Seq(root), Map.empty, None).allFiles()
      val log = open(spark, table)
      if (existing.nonEmpty && !log.add(0L, existing.map(SinkFileStatus(_)).toArray))
        throw new IllegalStateException(s"$table: another writer adopted it first")
      log
    }
}

/** The commit protocol of a `graft.etl.Sink` append: task files are
  * written in place, as the streaming file sink writes them, and the job
  * commits by adding them to the table's log as its next batch. A failed
  * job adds nothing, so its rows are never read; a batch id lost to a
  * writer in another process throws instead of dropping rows.
  */
class LoggedCommitProtocol(jobId: String, path: String)
    extends ManifestFileCommitProtocol(jobId, path) {

  @transient private var sinkLog: FileStreamSinkLog = _

  override def setupJob(jobContext: JobContext): Unit = {
    sinkLog = SinkLog.forAppend(SparkSession.active, path)
    // the batch id is taken at commit, under the table's lock
    setupManifestOptions(sinkLog, -1L)
    super.setupJob(jobContext)
  }

  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    SinkLog.lock(path).synchronized {
      setupManifestOptions(sinkLog, sinkLog.getLatestBatchId().fold(0L)(_ + 1))
      super.commitJob(jobContext, taskCommits)
    }
}
