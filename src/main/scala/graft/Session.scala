package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.ColumnBridge

/** Every SQL setting the engine chooses, in one place. [[local]] is the one
  * session builder of the mains; a query body that needs different
  * settings runs in a [[pinned]] child session and never writes the
  * caller's conf, so queries running concurrently on one session cannot
  * leak settings into each other.
  *
  * An action runs under the conf of its own Dataset's session: a pinned
  * body rebinds the frames it acts on into the child with [[in]], and
  * rebinds its result back to the caller, whose lazy tail then plans
  * exactly as it would have without the child.
  */
object Session {

  /** Generated classes the JVM-wide codegen cache keeps (a static conf:
    * the first session of the JVM fixes it). One `graft.Dev hot` pass over
    * every registry query at sf0.001 compiles 4,092 classes with no
    * eviction; Spark's default of 100 made the same pass compile 6,439.
    */
  private val CodegenCacheEntries: Int = 4096

  /** `local[cores]` with shuffle partitions = cores, UTC, UI off, a
    * codegen cache of [[CodegenCacheEntries]] classes and the log at
    * WARN. `cores` defaults to `SPARK_GRAFT_CPUS`, else 4.
    */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh child of `spark` with `pins` set on it. The child shares the
    * SparkContext, the cache manager and the catalogs, copies the conf,
    * temp views and functions, and owns its SQLConf, so `spark` itself is
    * never written. One child per call: it sees the caller's conf as of
    * now, and goes with the last frame that references it.
    */
  def pinned(spark: SparkSession, pins: (String, String)*): SparkSession = {
    val child = ColumnBridge.cloneSession(spark)
    pins.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** `df`'s analyzed plan as a frame of `spark` (itself if it already is). */
  def in(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df
    else ColumnBridge.ofRows(spark, df.queryExecution.analyzed)
}
