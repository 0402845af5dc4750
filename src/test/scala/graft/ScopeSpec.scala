package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** Call-scoped reuse: every cache and lineage cut a call takes is released
  * when the call returns or throws, except the cuts the frame it returns
  * reads, which outlive the call and go with the frame.
  */
class ScopeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  val sf = "/root/testdata/sf0.001"

  /** The context's persistent RDDs. The map holds each RDD strongly, so no
    * RDD in it can be garbage-collected, and so cleaned, while a test
    * holds the snapshot.
    */
  private def persisted(): Map[Int, org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap

  /** `call` throws, and leaves the persistent RDDs exactly as they were. */
  private def releasesOnFailure(call: => Any): Unit = {
    val before = persisted()
    intercept[Exception](call)
    assert(persisted().keySet === before.keySet)
  }

  /** `call` returns a frame, and the only persistent RDD it adds is the
    * one behind that frame (none for a lazy frame).
    */
  private def addsOnlyItsResult(call: => DataFrame): Unit = {
    val before = persisted()
    val out = call
    val behind = ColumnBridge.checkpointRdd(out).toSeq
    val after = persisted()
    assert(before.keySet.subsetOf(after.keySet))
    assert(after.keySet -- before.keySet === behind.map(_.id).toSet)
    behind.foreach(_.unpersist(blocking = true))
  }

  private def chain(n: Long): DataFrame = {
    import spark.implicits._
    (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
  }

  test("connectedComponents past its round cap leaves the persistent RDDs as they were") {
    releasesOnFailure(llm.Graph.connectedComponents(chain(200), maxRounds = 2))
  }

  test("shortestPathsOf past its round cap leaves the persistent RDDs as they were") {
    releasesOnFailure(llm.Graph.shortestPathsOf(chain(20), col("id") === 0L, maxRounds = 2))
  }

  test("a fixed-round loop whose sealing job throws leaves the persistent RDDs as they were") {
    import spark.implicits._
    // the edge count prunes `b`, so the UDF first runs in the sealing
    // job, after every round's lazy cut is in place (the repartition keeps
    // the optimizer from evaluating the UDF over the local rows up front)
    val boom = udf { (b: Long) =>
      if (b == 3L) throw new IllegalStateException("boom")
      b
    }
    val und = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("a", "b").repartition(2).select(col("a"), boom(col("b")).as("b"))
    releasesOnFailure(llm.Graph.kcoreOf(und, k = 1, rounds = 3))
  }

  test("each converted loop adds only the RDD behind its returned frame") {
    import spark.implicits._
    val weighted = Seq((0L, 1L, 3L), (1L, 2L, 1L), (2L, 0L, 2L), (2L, 3L, 5L))
      .toDF("src", "dst", "w")
    val und = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L), (2L, 0L))
      .toDF("a", "b")
    addsOnlyItsResult(llm.Graph.connectedComponents(chain(20)))
    addsOnlyItsResult(llm.Graph.shortestPathsOf(chain(20), col("id") === 0L))
    addsOnlyItsResult(llm.Graph.pageRankOf(weighted))
    addsOnlyItsResult(llm.Graph.labelPropOf(weighted))
    addsOnlyItsResult(llm.Graph.kcoreOf(und, k = 2))
    addsOnlyItsResult(llm.Graph.multiSourceBfs(und))
    addsOnlyItsResult(llm.Sampling.shardManifestOf(
      (0L until 40L).map(i => (i, i * 7919L % 101L, i % 5L)).toDF("doc_id", "fp", "n_tokens")))
    addsOnlyItsResult(llm.Pca.pcaOf(
      (0 until 30).map(i => (s"l${i % 3}", Array.tabulate(llm.Pca.Dims)(j => ((i * j) % 7).toFloat)))
        .toDF("label", "embedding")))
    // kcenter's corpus is a memoized artifact: build it, then measure
    llm.Similarity.kcenter(spark, sf).collect()
    addsOnlyItsResult(llm.Similarity.kcenter(spark, sf))
  }

  test("the scope releases what it handed out, keeps the returned cut, and leaves others' caches") {
    val theirs = spark.range(0, 50).toDF("id").filter(col("id") % 3 === 0).cache()
    theirs.count()
    val before = persisted()
    val out = Scope.run { s =>
      val mine = s.keep(spark.range(0, 100).toDF("id").filter(col("id") % 2 === 0))
      mine.count()
      s.keep(spark.range(0, 50).toDF("id").filter(col("id") % 3 === 0)) // already theirs
      val (probed, n) = s.probe(mine.select((col("id") + 1).as("id")))(_.count())
      assert(n === 50L)
      s.seal(s.cut(probed).select((col("id") * 2).as("id")))
    }
    val behind = ColumnBridge.checkpointRdd(out).map(_.id).toSet
    assert(persisted().keySet -- before.keySet === behind)
    assert(before.keySet.subsetOf(persisted().keySet))
    assert(org.apache.spark.sql.graftx.ReuseBridge.isCached(theirs))
    assert(out.count() === 50L)
    behind.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    theirs.unpersist(blocking = true)

    val start = persisted()
    intercept[IllegalStateException](Scope.run { s =>
      s.keep(spark.range(0, 10).toDF("id")).count()
      s.seal(spark.range(0, 10).toDF("id"))
      throw new IllegalStateException("mid-run")
    })
    assert(persisted().keySet === start.keySet)
  }

  test("a returned lazy frame keeps the cuts it reads and no other") {
    val start = persisted().keySet
    val out = Scope.run { sc =>
      val mid = sc.seal(spark.range(0, 100).toDF("id"))
      val evens = sc.seal(mid.filter(col("id") % 2 === 0))
      val fives = sc.cut(spark.range(0, 100).toDF("id").filter(col("id") % 5 === 0))
      evens.join(fives, "id")
    }
    val read = ColumnBridge.leafRdds(out).map(_.id).toSet
    assert(read.size === 2)
    assert(persisted().keySet -- start === read)
    assert(start.subsetOf(persisted().keySet))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L by 10L))
    read.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
  }

  test("no code outside Memo and Scope caches, persists, checkpoints or unpersists a frame") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val raw = """\.cache\(\)|\.persist\(|localCheckpoint\(|unpersist\(""".r
    def comment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sources: Seq[Path] = Files.walk(Paths.get("src/main/scala/graft")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => Set("Memo.scala", "Scope.scala")(p.getFileName.toString))
      .toSeq
    assert(sources.size > 40)
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !comment(line) && raw.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("raw reuse outside Memo and Scope:\n", "\n", ""))
  }
}
