package etlbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The one session the benchmark runs on: `local[cores]` with the same
  * settings as the engine's bench and verify mains.
  */
object Session {
  def create(cores: Int): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Cleanup {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** (bytes, regular files) under `p`. */
  def size(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val walk = Files.walk(p)
      try {
        var bytes, files = 0L
        walk.filter(Files.isRegularFile(_)).forEach { f =>
          // a shutdown-hook cleanup can race the walk; count what is left
          try { bytes += Files.size(f); files += 1 }
          catch { case _: java.io.IOException => () }
        }
        (bytes, files)
      } finally walk.close()
    }
}
