/* Bridge into Spark's private[sql] Column<->Expression conversion.
 *
 * Spark 4 wraps Column around ColumnNode; the supported way for an
 * extension library to expose a custom Catalyst Expression as a Column is
 * org.apache.spark.sql.classic.ExpressionUtils, which is private[sql] —
 * hence this one-file package bridge (the same pattern public Spark
 * extension libraries use). The session clone behind `graft.Session` is
 * private[sql] for the same reason. No other internals are touched.
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
}
