package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
import org.apache.spark.sql.graftx.{ColumnBridge, ReuseBridge}

/** Per-(session, key) DataFrame memoizer. Returning the SAME DataFrame
  * instance matters: the file index / analysis work happens once, and
  * every consumer reads the one stored artifact. Pinning the session
  * reference for the JVM lifetime is intended: this is a long-lived
  * engine process and its tables/dims are meant to stay hot.
  *
  * A stored artifact (`cache = true`) holds the result, not the plan that
  * built it. A build whose optimized plan is a plain scan (filters and
  * projections over one relation, like the `fb_stat` table) is
  * `.cache()`d: its plan pins nothing. A build that returns its own
  * stored lineage cut (a sealed iteration) is kept as it is. Any other
  * build is materialized at once by an eager `localCheckpoint`
  * ([[ReuseBridge.checkpoint]]), which keeps its output partitioning, so
  * downstream joins gain no exchange. A cached frame would instead keep
  * its executed build plan alive in the cache manager, and with it every
  * broadcast relation that plan built: a 323-row pair table pinned 40 MB
  * of hash-join pages.
  *
  * Every memo registers in [[Memo]]'s registry, which reports each key's
  * build seconds, stored bytes and hits.
  */
final class Memo(val name: String) {
  private val m = new ConcurrentHashMap[(SparkSession, String), Memo.Artifact]()
  Memo.all.add(this)

  /** Build (and, with `cache`, store) the DataFrame once per (session, key). */
  def getOrBuild(spark: SparkSession, key: String, cache: Boolean = false)(
      build: => DataFrame): DataFrame = {
    var built = false
    val a = m.computeIfAbsent((spark, key), { _ =>
      built = true
      val t0 = System.nanoTime()
      val df = build
      val (out, rdd) =
        if (!cache) (df, None)
        else ColumnBridge.checkpointRdd(df).filter(_.getStorageLevel.isValid) match {
          case Some(r) => (df, Some(r.id)) // already cut and stored by its build
          case None if Memo.isScan(df) => (df.cache(), None)
          case None => val (cut, id) = ReuseBridge.checkpoint(df); (cut, Some(id))
        }
      new Memo.Artifact(spark, s"$name:$key", out, cache, rdd, (System.nanoTime() - t0) / 1e9)
    })
    if (!built) a.hits.incrementAndGet()
    a.df
  }

  private def artifacts: Iterator[Memo.Artifact] = m.values.iterator.asScala
}

object Memo {
  private val all = new ConcurrentLinkedQueue[Memo]()

  /** One memoized frame. `buildSeconds` covers the build and, for a
    * checkpoint, its materialization; a cached scan fills on first use.
    */
  final class Artifact(val spark: SparkSession, val key: String, val df: DataFrame,
      val stored: Boolean, checkpointRdd: Option[Int], val buildSeconds: Double) {
    val hits = new AtomicLong()

    /** The persisted RDD holding the data: the checkpoint's, or the cache
      * entry's once an action has started to fill it.
      */
    def rddId: Option[Int] =
      if (!stored) None else checkpointRdd.orElse(ReuseBridge.cached(df).map(_._1))

    def bytes: Long = checkpointRdd match {
      case Some(id) => ReuseBridge.storedBytes(spark, id)
      case None if stored => ReuseBridge.cached(df).fold(0L)(_._2)
      case None => 0L
    }
  }

  /** Every memoized frame of `spark`, stored or not, by key. */
  def entries(spark: SparkSession): Seq[Artifact] =
    all.asScala.iterator.flatMap(_.artifacts).filter(_.spark eq spark).toSeq.sortBy(_.key)

  /** The stored artifacts of `spark`: each holds one persisted RDD. */
  def stored(spark: SparkSession): Seq[Artifact] = entries(spark).filter(_.stored)

  private def isScan(df: DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.exists {
      case _: Project | _: Filter | _: LeafNode => false
      case _ => true
    }
}
