package etlbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collector: one [[SparkListener]] (jobs, stages, task
  * time and bytes), one [[QueryExecutionListener]] (driver planning phase
  * times) and one [[StreamingQueryListener]] (micro-batch phase times and
  * state operators). Every counter is cumulative; callers take a
  * [[snapshot]] around an op and subtract.
  */
final class Tracer(spark: SparkSession) {
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      jobStarts(e.jobId) = e.time
      c("scheduler.jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) c.synchronized {
        c("tasks.run_s") += m.executorRunTime / 1e3
        c("tasks.cpu_s") += m.executorCpuTime / 1e9
        c("tasks.gc_s") += m.jvmGCTime / 1e3
        c("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        c("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        c("shuffle.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        c("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c("io.input_mb") += m.inputMetrics.bytesRead / 1e6
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      c.synchronized {
        val phases = qe.tracker.phases
        Seq("analysis" -> "analysis", "optimization" -> "optimizer", "planning" -> "planning")
          .foreach { case (p, name) =>
            phases.get(p).foreach(s => c(s"driver.${name}_s") += s.durationMs / 1e3)
          }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      c.synchronized {
        val p = e.progress
        c("streaming.batches") += 1
        c("streaming.input_rows") += p.numInputRows
        p.durationMs.asScala.foreach { case (k, v) =>
          val name = if (k == "triggerExecution") "trigger" else k
          c(s"streaming.${name}_s") += v.longValue / 1e3
        }
        p.stateOperators.foreach { s =>
          c("streaming.state_commit_s") += s.commitTimeMs / 1e3
          c("streaming.state_rows") += s.numRowsTotal
          c("streaming.state_mb") += s.memoryUsedBytes / 1e6
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    c.synchronized(c.toMap)
  }

  /** Wall time inside [from, to] (epoch ms) that no Spark job covered. */
  def driverOnlyMs(from: Long, to: Long): Long = {
    BenchBus.drain(spark.sparkContext)
    val covered = c.synchronized(jobIntervals.toSeq)
      .map { case (a, b) => (a max from, b min to) }
    (to - from) - Spans.covered(covered)
  }
}
