package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL settings: query bodies that need their own settings run in pinned
  * child sessions, so the caller's session conf is never written — not
  * by one query, and not by many running at once.
  */
class SessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  val sf = "/root/testdata/sf0.001"

  /** `after` is `before` plus, at most, catalog registrations: those are
    * add-only, with values that are constant within one JVM.
    */
  private def assertConfKept(before: Map[String, String], after: Map[String, String]): Unit = {
    val added = after.keySet -- before.keySet
    assert(added.forall(_.startsWith("spark.sql.catalog.")), s"conf keys added: $added")
    val changed = before.filter { case (k, v) => !after.get(k).contains(v) }
    assert(changed.isEmpty, s"conf changed: ${changed.keys.map(k => s"$k=${after.get(k)}")}")
  }

  test("pinned: the child carries its pins, the caller keeps its conf, frames rebind both ways") {
    val before = spark.conf.getAll
    val child = Session.pinned(spark, "spark.sql.shuffle.partitions" -> "3")
    assert(child.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(spark.conf.getAll === before)
    val df = spark.range(0, 100).toDF("id")
    val there = Session.in(child, df)
    assert(there.sparkSession eq child)
    assert(Session.in(spark, df) eq df)
    val back = Session.in(spark, there.groupBy(col("id") % 7).count())
    assert(back.sparkSession eq spark)
    assert(back.collect().map(_.getLong(1)).sum === 100L)
  }

  test("events vintage: a TIMESTAMP(NANOS) file reads in batch and in a drain without writing the caller's conf") {
    // Spark never writes TIMESTAMP(NANOS), so the file is written with
    // parquet's own example writer: the fixture rows, with sub-µs digits
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val tmp = graft.etl.Scratch.workDir("graft_nanos_")
    val rows = Tables.events(spark, sf)
      .select(col("event_id"),
        unix_micros(col("ts")) * 1000L + pmod(col("event_id"), lit(997L)),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(tmp.resolve("events.parquet").toUri))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      Seq(0, 1, 2).zip(Seq("event_id", "ts", "user_id")).foreach { case (i, n) =>
        if (!r.isNullAt(i)) g.add(n, r.getLong(i)) }
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
    val s = spark.newSession()
    val before = s.conf.getAll
    try {
      assert(Tables.eventsRaw(s, tmp.toString).schema("ts").dataType ===
        org.apache.spark.sql.types.LongType)
      Seq("x_latest", "x_stream_dedup").foreach { q =>
        val want = SparkEntry.queries(q)(spark, sf).collect().toSeq
        assert(SparkEntry.queries(q)(s, tmp.toString).collect().toSeq === want, q)
      }
      assertConfKept(before, s.conf.getAll)
    } finally graft.streaming.Drain.deleteRecursively(tmp)
  }

  test("concurrency: queries on 8 threads of one session return their serial rows and leave its conf as it was") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val names = Seq("x_kcore", "x_pagerank", "x_betweenness", "x_stream_dedup",
      "x_stream_neardup", "x_latest", "q_daily")
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(s, sf).collect().map(_.toString).toSeq.sorted
    val serial = names.map(q => q -> rows(q)).toMap
    val pool = Executors.newFixedThreadPool(8)
    val concurrent =
      try pool.invokeAll((names ++ names).map(q =>
        (() => q -> rows(q)): Callable[(String, Seq[String])]).asJava)
        .asScala.map(_.get()).toSeq
      finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    concurrent.foreach { case (q, got) => assert(got === serial(q), q) }
    assertConfKept(before, s.conf.getAll)
  }
}
