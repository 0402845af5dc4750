package graft

import org.apache.spark.sql.SparkSession

/** Dev main on the engine's one session ([[Session.local]]).
  *
  * Usage: runMain graft.Dev <command> [args ...]
  *  - `smoke`: the driver's entry() check (rows > 0).
  *  - `run <sfDir> <query>`: one registry query, shown with its row count
  *    and full stack traces.
  *  - `plan <sfDir> [query ...]`: formatted physical plans.
  *  - `sql <statement> ...`: SQL with the graft functions registered.
  *  - `hot <sfDir> [query ...]`: each query's first and second run timed
  *    after the fb_stat load (the second is the bench's warm number), with
  *    the used heap after three collections and the SparkContext's
  *    persistent RDDs after them (a query that leaves an RDD behind shows
  *    as a step up); then every memoized frame
  *    with its build seconds, stored bytes and hits, and the count of
  *    stored artifacts against the SparkContext's persistent RDDs. Each
  *    query line also counts the generated classes its first and second
  *    run compiled; a second run that compiles any was evicted from the
  *    codegen cache.
  *    Jobs, stages and task time per query come from `etlbench --trace 1`.
  *
  * `plan` and `hot` take every registry query when none is named.
  */
object Dev {
  /** Used heap after three full collections, with pauses so the context
    * cleaner can release what each one made unreachable.
    */
  private def heapUsedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Generated classes compiled in this JVM so far (codegen cache misses). */
  private def compiled(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    def named(rest: Seq[String]): Seq[String] =
      if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    val cmd: SparkSession => Unit = args.toSeq match {
      case Seq("smoke") => spark =>
        val df = SparkEntry.entry(spark)
        val n = df.count()
        df.show(5, truncate = false)
        println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
      case Seq("run", sfDir, name) => spark =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.show(20, truncate = false)
        println(s"[run] $name rows=${df.count()}")
      case "plan" +: sfDir +: rest => spark =>
        named(rest).foreach { n =>
          println(s"\n===================== $n =====================")
          try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
        }
      case "sql" +: statements => spark =>
        functions.GraftFunctions.register(spark)
        statements.foreach(sql => spark.sql(sql).show(50, truncate = false))
      case "hot" +: sfDir +: rest => spark =>
        queries.EtlQueries.fbStatTable(spark, sfDir).head(1)
        named(rest).foreach { n =>
          val fn = SparkEntry.queries(n)
          def timed(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          val c0 = compiled()
          val first = timed()
          val c1 = compiled()
          val second = timed()
          println(f"[hot] $n%-18s first=$first%7.2fs  second=$second%7.2fs  " +
            f"heap=${heapUsedMb()}%6.1fMB  rdds=${spark.sparkContext.getPersistentRDDs.size}%3d  " +
            f"compiled=${c1 - c0}%4d+${compiled() - c1}%d")
        }
        println(s"[hot] classes compiled=${compiled()} " +
          s"(codegen cache ${spark.conf.get("spark.sql.codegen.cache.maxEntries")} entries)")
        println(f"[memo] ${"key"}%-48s ${"build_s"}%8s ${"bytes"}%12s ${"hits"}%5s")
        Memo.entries(spark).foreach { a =>
          println(f"[memo] ${a.key}%-48s ${a.buildSeconds}%8.2f ${a.bytes}%12d ${a.hits.get}%5d")
        }
        println(s"[memo] stored=${Memo.stored(spark).size} " +
          s"persistent_rdds=${spark.sparkContext.getPersistentRDDs.size}")
      case _ =>
        System.err.println("usage: graft.Dev smoke | run <sfDir> <query> | " +
          "plan <sfDir> [query ...] | sql <statement> ... | hot <sfDir> [query ...]")
        sys.exit(2)
    }
    val spark = Session.local()
    try cmd(spark) finally spark.stop()
  }
}
