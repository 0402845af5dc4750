package org.apache.spark.sql.graftx

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.storage.BroadcastBlockId

/** What the reuse and sink specs inspect in this JVM: the broadcast
  * join relations its block manager holds, the cache manager's entries,
  * the streaming listener buses of a SparkContext, a sink table's commit
  * log and the file index a scan reads.
  */
object SpecBridge {

  /** Ids of the broadcast join relations (hash relations, or the row
    * arrays of nested-loop joins) this JVM's block manager holds.
    */
  def broadcastRelations(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds { case BroadcastBlockId(_, "") => true; case _ => false }
      .flatMap(id => bm.getLocalValues(id).map(r => id -> r.data.toList))
      .collect { case (BroadcastBlockId(b, _), List(v)) if isRelation(v) => b }
      .toSet
  }

  private def isRelation(v: Any): Boolean = v match {
    case _: Array[InternalRow] => true
    case r: AnyRef =>
      val n = r.getClass.getName
      n.startsWith("org.apache.spark.sql.execution.joins.") && n.endsWith("HashedRelation")
    case _ => false
  }

  private lazy val cachedDataMethod = {
    val m = classOf[org.apache.spark.sql.execution.CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m
  }

  /** Every entry of the cache manager `spark` shares with its context's
    * other sessions, in order.
    */
  def cacheEntries(spark: SparkSession): Seq[AnyRef] =
    cachedDataMethod.invoke(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager).asInstanceOf[Seq[AnyRef]]

  /** The cache manager's entry for `df`'s plan, if any. */
  def cacheEntry(df: org.apache.spark.sql.DataFrame): Option[AnyRef] =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  /** Streaming listener buses registered on `spark`'s SparkContext. */
  def streamBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size

  /** The files the commit log of the `graft.etl.Sink` table at `table`
    * lists: the part files its readers see.
    */
  def loggedFiles(spark: SparkSession, table: String): Seq[(String, Long)] =
    SinkLog.open(spark, table).allFiles().toSeq.map(f => (f.path, f.size))

  /** Class names of the file indexes `df`'s analyzed plan scans. */
  def fileIndexes(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        r.location.getClass.getSimpleName
    }
}
