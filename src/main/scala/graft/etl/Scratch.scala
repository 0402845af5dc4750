package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

import graft.streaming.Drain.deleteRecursively

/** This process's scratch space: one root per JVM,
  * `$java.io.tmpdir/graft_warehouse/run-<pid>-<nonce>/`, holding every
  * scratch table ([[Sink.scratchPath]]) and per-call work directory
  * ([[workDir]]). Like the reference's stateless Cloud Function, a run
  * starts from nothing and keeps nothing: the root is created on first
  * use and deleted by one shutdown hook, so no artifact written by an
  * older code version — or by another JVM — can ever be read back.
  * Creating the root also removes sibling roots whose process is gone,
  * so a killed run cannot leak disk.
  *
  * Reuse inside the process goes through [[once]]: each scratch artifact
  * is built at most once per JVM, then served from disk.
  */
object Scratch {

  lazy val root: Path = {
    val parent = Paths.get(System.getProperty("java.io.tmpdir"), "graft_warehouse")
    Files.createDirectories(parent)
    sweepDeadRuns(parent)
    val nonce = java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())
    val r = Files.createDirectory(
      parent.resolve(s"run-${ProcessHandle.current().pid()}-$nonce"))
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(r), "graft-scratch-cleanup"))
    r
  }

  private val RunDir = """run-(\d+)-.*""".r

  /** Delete every `run-<pid>-*` directory under `parent` whose pid is no
    * longer a live process.
    */
  private[graft] def sweepDeadRuns(parent: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(parent)
    val dead =
      try listing.iterator().asScala.filter { p =>
        p.getFileName.toString match {
          case RunDir(pid) => !ProcessHandle.of(pid.toLong).isPresent
          case _ => false
        }
      }.toSeq
      finally listing.close()
    dead.foreach(deleteRecursively)
  }

  /** A fresh directory under [[root]] for one call's checkpoints, sinks
    * and transient writes; it lives until the process exits (a lazily
    * read DataFrame may still point into it).
    */
  def workDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Build the scratch artifact at `path` at most once in this JVM and
    * return `path`. `build` runs in place, into a freshly created empty
    * directory: streaming checkpoints and file-sink logs record absolute
    * paths, so an artifact must be written where it is read. Concurrent
    * callers of one path wait for the first build; a build that throws
    * leaves no directory behind and the next call builds again. Builds
    * may nest (a compaction builds its source table first): the per-path
    * lock is held outside any map operation, and distinct paths never
    * block each other.
    */
  def once(path: String)(build: => Unit): String = {
    val key = Paths.get(path).toAbsolutePath.normalize.toString
    if (!built.contains(key)) {
      locks.computeIfAbsent(key, _ => new AnyRef).synchronized {
        if (!built.contains(key)) {
          try {
            Files.createDirectories(Paths.get(key))
            build
          } catch {
            case t: Throwable => Sink.dropUncommitted(key); throw t
          }
          built.add(key)
        }
      }
    }
    path
  }

  /** Stage `df` as the single parquet file `dst` with modification time
    * `mtimeSec` — the landing-zone file of a replayed stream, where
    * `maxFilesPerTrigger=1` replays files in mtime order.
    */
  def stageFile(df: DataFrame, dst: Path, mtimeSec: Long): Unit = {
    val tmp = workDir("stage_").resolve("out")
    df.coalesce(1).write.parquet(tmp.toString)
    moveSinglePart(tmp, dst, mtimeSec)
    deleteRecursively(tmp.getParent)
  }

  /** Move the one parquet part file in the Spark output directory `dir`
    * to `dst` and pin its mtime. More than one part fails loudly: taking
    * one of several would silently drop rows from the staged file.
    */
  def moveSinglePart(dir: Path, dst: Path, mtimeSec: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(dir)
    val parts =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally listing.close()
    require(parts.size == 1,
      s"staging $dst: $dir holds ${parts.size} parquet parts, expected 1")
    Files.createDirectories(dst.getParent)
    Files.move(parts.head, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeSec * 1000))
  }
}
