package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graftx.{ColumnBridge, ReuseBridge}

/** Reuse for the length of one call, or of the frame it returns. The
  * engine keeps data for two lifetimes: the session, where a [[Memo]]
  * builds an artifact once per (session, key) and holds it while the
  * session lives, and the call, where a scope holds what one call caches
  * or cuts. Nothing else persists data: no frame is cached by plan for
  * the life of the session.
  *
  * `Scope.run { s => … }` gives its body four calls:
  *  - [[keep]] caches what the call reads before it returns, such as a
  *    loop invariant (`Dataset.persist` at the session's default level);
  *  - [[cut]] truncates a frame's plan to a lazily materialized checkpoint.
  *    Cut what the returned frame reads: the cut is freed with the frame.
  *    An iterative plan must be cut every round: a self-join doubles the
  *    uncut lineage per round, and the driver runs out of memory planning
  *    it. The cut frame is filled by the first job that reads it, and every
  *    later reader reads that one persisted copy, so a fixed-round loop
  *    fills no round until its [[seal]] (under adaptive execution, taking
  *    a cut does run the shuffle stages below it);
  *  - [[probe]] is a lazy cut fused with the round's convergence action:
  *    the action fills the cut, then the previous probe's cut, superseded
  *    and already read, is released. A probed loop runs one job per round
  *    and holds at most two rounds' blocks;
  *  - [[seal]] materializes a frame at once (an eager checkpoint), and
  *    its readers plan against it as against a filled cache entry: it is
  *    sized as stored and keeps the partitioning of the plan that built
  *    it. Seal a small or pre-partitioned intermediate that later joins
  *    and aggregates should see as such, and a loop's result.
  *
  * When the body returns or throws, the scope releases every frame it
  * kept and every cut that the returned frame (or each frame of a returned
  * tuple) does not read. The cuts the returned frame reads are the
  * `LogicalRDD` leaves of its plan, and, through the lineage of a cut not
  * yet filled, the cuts that one reads in turn. Those belong to the frame
  * from then on: Spark's context cleaner unpersists them once the caller
  * drops the frame. A returned frame that is derived lazily from a kept
  * one recomputes from its sources once the scope has released it. The
  * scope releases the exact frames and RDDs it persisted, never a diff of
  * `sc.getPersistentRDDs`, which would sweep what other threads persist
  * meanwhile. A frame whose plan was already cached when the body kept it
  * belongs to whoever cached it first, and the scope leaves it cached.
  *
  * The calls may come from several threads: a drain's scope is fed from
  * the stream's batch thread.
  */
final class Scope private {
  private val kept = new ConcurrentLinkedQueue[Dataset[_]]()
  private val cuts = new ConcurrentLinkedQueue[RDD[_]]()
  @volatile private var lastProbe: Option[RDD[_]] = None

  /** `ds` cached until the scope ends. */
  def keep[T](ds: Dataset[T]): Dataset[T] = {
    if (!ReuseBridge.isCached(ds)) kept.add(ds)
    ds.persist()
  }

  /** `df` cut from its plan now, materialized by its first reader. */
  def cut(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(false)
    ColumnBridge.checkpointRdd(out).foreach(cuts.add)
    out
  }

  /** `df` cut, `action` run on the cut (which fills it), then the previous
    * probe's cut released.
    */
  def probe[A](df: DataFrame)(action: DataFrame => A): (DataFrame, A) = {
    val out = cut(df)
    val a = action(out)
    lastProbe.foreach { r => cuts.remove(r); ReuseBridge.release(r) }
    lastProbe = ColumnBridge.checkpointRdd(out)
    (out, a)
  }

  /** `df` cut from its plan and materialized now: an eager checkpoint
    * whose RDD the scope holds before its job runs, sized as stored and
    * partitioned as `df`'s final plan left it.
    */
  def seal(df: DataFrame): DataFrame = {
    val out = cut(df)
    ReuseBridge.fill(out)
    ReuseBridge.settled(df, out)
  }

  private def close(result: Option[Any]): Unit = {
    val read = Scope.readBy(result.toSeq.flatMap {
      case p: Product => p.productIterator
      case x => Iterator(x)
    }.collect { case d: Dataset[_] => d.toDF() })
    cuts.asScala.filterNot(r => read(r.id)).foreach(ReuseBridge.release)
    kept.asScala.foreach(_.unpersist(blocking = false))
  }
}

object Scope {

  /** Ids of the RDDs `frames` read: their plans' `LogicalRDD` leaves and
    * everything in those RDDs' lineage. A filled cut's lineage ends at its
    * checkpoint, so the walk passes only through cuts not yet filled.
    */
  private def readBy(frames: Seq[DataFrame]): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    var todo = frames.flatMap(ColumnBridge.leafRdds).toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (seen.add(r.id)) todo = r.dependencies.map(_.rdd).toList ++ todo
    }
    seen.toSet
  }

  /** Run `body` with a fresh scope, and release the scope when `body`
    * returns or throws.
    */
  def run[A](body: Scope => A): A = {
    val s = new Scope
    var result: Option[A] = None
    try { result = Some(body(s)); result.get }
    finally s.close(result)
  }
}
