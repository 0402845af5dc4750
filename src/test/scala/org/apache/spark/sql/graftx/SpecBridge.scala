package org.apache.spark.sql.graftx

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.storage.BroadcastBlockId

/** What the reuse specs inspect in this JVM: the broadcast join
  * relations its block manager holds and the streaming listener buses of
  * a SparkContext.
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

  /** Streaming listener buses registered on `spark`'s SparkContext. */
  def streamBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
