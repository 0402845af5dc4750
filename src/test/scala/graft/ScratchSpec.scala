package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Scratch, Sink}
import graft.streaming.Drain.deleteRecursively

/** The scratch lifecycle: one root per JVM, artifacts built at most once
  * per process, failed builds cleaned up, nothing read across runs.
  */
class ScratchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  // scratch tables are keyed by (sfDir, table); these specs only need a key
  val sf = "scratch_spec"

  private def rowsAt(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSeq.sorted

  test("scratch: concurrent first use of one artifact builds once; every caller reads the same rows") {
    val path = Sink.scratchPath(sf, "spec_concurrent")
    val inner = Sink.scratchPath(sf, "spec_concurrent_src")
    val builds = new AtomicInteger(0)
    val innerBuilds = new AtomicInteger(0)
    // the build nests a second artifact, as compactSized nests fb_stat
    def artifact(): String = Scratch.once(path) {
      builds.incrementAndGet()
      Scratch.once(inner) {
        innerBuilds.incrementAndGet()
        spark.range(0, 1000).write.mode("overwrite").parquet(inner)
      }
      spark.read.parquet(inner).filter("id % 7 = 0")
        .write.mode("overwrite").parquet(path)
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        rowsAt(artifact())
      }))
      start.countDown()
      val results = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(innerBuilds.get === 1)
      val expected = (0L until 1000L).filter(_ % 7 == 0)
      results.foreach(r => assert(r === expected))
    } finally pool.shutdown()
  }

  test("scratch: a build that throws leaves no directory, and the next call rebuilds") {
    val path = Sink.scratchPath(sf, "spec_failed")
    val e = intercept[IllegalStateException] {
      Scratch.once(path) {
        spark.range(0, 10).write.mode("overwrite").parquet(path)
        throw new IllegalStateException("build failed after a partial write")
      }
    }
    assert(e.getMessage.contains("partial write"))
    assert(!Files.exists(Paths.get(path)), "the partial artifact must be dropped")
    val builds = new AtomicInteger(0)
    Scratch.once(path) {
      builds.incrementAndGet()
      spark.range(5, 8).write.mode("overwrite").parquet(path)
    }
    Scratch.once(path)(builds.incrementAndGet())
    assert(builds.get === 1)
    assert(rowsAt(path) === Seq(5L, 6L, 7L))
  }

  test("scratch: a run root whose process is gone is removed; live roots stay") {
    val parent = Scratch.root.getParent
    val proc = new ProcessBuilder("true").start()
    proc.waitFor()
    val deadPid = proc.pid()
    assert(!ProcessHandle.of(deadPid).isPresent)
    val dead = parent.resolve(s"run-$deadPid-spec")
    val live = parent.resolve(s"run-${ProcessHandle.current().pid()}-spec")
    try {
      Seq(dead, live).foreach { d =>
        Files.createDirectories(d.resolve("t"))
        Files.writeString(d.resolve("t").resolve("f"), "x")
      }
      Scratch.sweepDeadRuns(parent)
      assert(!Files.exists(dead), "a dead run's root must be swept")
      assert(Files.exists(live.resolve("t").resolve("f")), "a live run's root must stay")
      assert(Files.isDirectory(Scratch.root), "this run's root must stay")
    } finally Seq(dead, live).foreach(deleteRecursively)
  }

  test("scratch: every scratch table and work dir lives under this process's root") {
    val root: Path = Scratch.root
    assert(root.getFileName.toString.startsWith(s"run-${ProcessHandle.current().pid()}-"))
    assert(Paths.get(Sink.scratchPath(sf, "fb_stat")).startsWith(root))
    val work = Scratch.workDir("spec_")
    try assert(work.startsWith(root) && Files.isDirectory(work))
    finally deleteRecursively(work)
  }
}
