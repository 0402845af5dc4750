/* Bridge into Spark's private[sql] Column<->Expression conversion.
 *
 * Spark 4 wraps Column around ColumnNode; the supported way for an
 * extension library to expose a custom Catalyst Expression as a Column is
 * org.apache.spark.sql.classic.ExpressionUtils, which is private[sql] —
 * hence this one-file package bridge (the same pattern public Spark
 * extension libraries use). The session clone behind `graft.Session` is
 * private[sql] for the same reason. `ReuseBridge` reaches what a memo, a
 * call scope or a finished stream holds or releases: a cache entry's
 * column buffers, a lazy checkpoint's fill job and release, the state
 * store's loaded providers and a session's streaming listener bus (the
 * last two private fields, read by reflection). No other internals are
 * touched.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (classic Dataset.ofRows is
    * private[sql]) — needed to plug custom logical operators into the
    * public DataFrame API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A child session (classic `cloneSession` is private[sql]): it shares
    * the SparkContext, the cache manager and the catalogs, starts from a
    * copy of the parent's conf, temp views and functions, and owns its own
    * SQLConf from then on.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The exact persisted RDD behind a `localCheckpoint`ed Dataset (its
    * analyzed plan is a LogicalRDD wrapping the checkpoint blocks).
    * Iterative algorithms need THIS handle to release a superseded
    * round's blocks — diffing `sc.getPersistentRDDs` before/after would
    * misattribute any RDD persisted concurrently by another thread.
    */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
        case _ => None
      }

  /** The RDDs `df`'s analyzed plan reads as `LogicalRDD` leaves (its
    * lineage cuts among them), in subqueries too.
    */
  def leafRdds(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed
      .collectWithSubqueries { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
}

/** What a memoized artifact or a call scope holds and what a finished
  * stream leaves behind, reached where the public API stops: the
  * lineage-cut artifact with its measured size, the fill and the release
  * of a lazy cut, the data behind a cache entry, the state-store providers
  * of one query run and a session's streaming listener bus.
  */
object ReuseBridge {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProvider, StateStoreProviderId}

  /** Bytes the block manager holds for RDD `rddId` (memory plus disk). */
  def storedBytes(spark: SparkSession, rddId: Int): Long =
    spark.sparkContext.getRDDStorageInfo.find(_.id == rddId)
      .fold(0L)(r => r.memSize + r.diskSize)

  /** `df` materialized now and cut from the plan that built it: an eager
    * `localCheckpoint`, which keeps the output partitioning and ordering.
    * Its statistics are the stored size, not the build plan's estimate,
    * so a downstream join plans against it as it would against a filled
    * cache entry. Returns the frame and the id of its persisted RDD.
    */
  def checkpoint(df: DataFrame): (DataFrame, Int) = {
    val spark = df.sparkSession
    df.localCheckpoint(eager = true).queryExecution.analyzed match {
      case l: LogicalRDD =>
        (ColumnBridge.ofRows(spark, relation(spark, l, l.outputPartitioning)), l.rdd.id)
      case other => throw new IllegalStateException(s"localCheckpoint gave ${other.nodeName}")
    }
  }

  /** The filled lazy cut `cut` of `df` as a frame that plans like a filled
    * cache entry: its statistics are the stored size, and it keeps the
    * partitioning of `df`'s final plan. Spark's own frame for a checkpoint
    * taken under adaptive execution reports the size the optimizer
    * estimated and no partitioning (the adaptive root's is unknown before
    * it runs), so a reader would shuffle again by the keys the cut is
    * already split by, and join it as if it were still large.
    */
  def settled(df: DataFrame, cut: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def first(p: Partitioning): Partitioning = p match {
      case PartitioningCollection(ps) => first(ps.head)
      case _ => p
    }
    val l = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val partitioning = Some(df.queryExecution.executedPlan)
      .collect { case a: AdaptiveSparkPlanExec => first(a.executedPlan.outputPartitioning) }
      .collect { case p: Expression with Partitioning
          if p.numPartitions == l.rdd.getNumPartitions &&
            p.references.subsetOf(AttributeSet(l.output)) => p }
      .getOrElse(l.outputPartitioning)
    ColumnBridge.ofRows(df.sparkSession, relation(df.sparkSession, l, partitioning))
  }

  /** `l`'s RDD as a relation of `spark` with `partitioning`, sized as
    * the bytes the block manager holds for it.
    */
  private def relation(spark: SparkSession, l: LogicalRDD,
      partitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning): LogicalRDD =
    LogicalRDD(l.output, l.rdd, partitioning, l.outputOrdering, l.isStreaming, l.stream)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(Statistics(sizeInBytes = BigInt(storedBytes(spark, l.rdd.id) max 1L))), None)

  /** Drop `rdd`'s blocks and forget it as persistent, as Spark's context
    * cleaner does for an RDD nothing references any more. `RDD.unpersist`
    * would do the same, but warns for every lineage cut it releases.
    */
  def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Fill the lazily checkpointed `cut` now: the job an eager
    * `localCheckpoint` runs (every partition of the checkpoint RDD
    * computed and stored), run as an SQL execution of `cut`'s session so
    * its tasks see that session's conf. The RDD is registered before the
    * job starts, so a caller still holds it if the job throws.
    */
  def fill(cut: DataFrame): Unit = {
    val ds = cut.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ColumnBridge.checkpointRdd(cut).foreach { rdd =>
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        ds.queryExecution, Some("localCheckpoint"))(rdd.doCheckpoint())
    }
  }

  private def cacheEntry(ds: org.apache.spark.sql.Dataset[_]) =
    ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  /** Whether the cache manager holds an entry for `ds`'s plan. */
  def isCached(ds: org.apache.spark.sql.Dataset[_]): Boolean = cacheEntry(ds).isDefined

  /** The cache manager's column-buffer RDD behind `df`, once an action
    * has started to fill it, and the bytes its batches hold so far.
    */
  def cached(df: DataFrame): Option[(Int, Long)] =
    cacheEntry(df).map(_.cachedRepresentation.cacheBuilder)
      .filter(b => b.sizeInBytesStats.value > 0 || b.isCachedColumnBuffersLoaded)
      .map(b => (b.cachedColumnBuffers.id, b.sizeInBytesStats.value.longValue))

  private lazy val loadedProviders = {
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    m.invoke(StateStore).asInstanceOf[scala.collection.mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
  }

  /** State-store providers of query run `runId` loaded in this JVM. */
  def loadedStores(runId: java.util.UUID): Seq[StateStoreProviderId] = {
    val m = loadedProviders
    m.synchronized(m.keys.filter(_.queryRunId == runId).toSeq)
  }

  /** Close and forget the state-store providers of query run `runId`
    * loaded in this JVM (the executors of a local master), leaving every
    * other run's providers loaded.
    */
  def unloadStores(runId: java.util.UUID): Unit =
    loadedStores(runId).foreach(StateStore.removeFromLoadedProvidersAndClose(_))

  private lazy val busField = {
    val f = classOf[org.apache.spark.sql.classic.StreamingQueryManager].getDeclaredField("listenerBus")
    f.setAccessible(true)
    f
  }

  /** Deregister `spark`'s streaming listener bus from its SparkContext
    * once every event posted so far has been delivered, so its listeners
    * still hear all of a stopped query's progress. Only for a session
    * that starts no further streams.
    */
  def removeStreamBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
    sc.removeSparkListener(busField.get(spark.streams)
      .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
  }
}
