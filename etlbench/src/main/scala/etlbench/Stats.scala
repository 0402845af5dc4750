package etlbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics for the end-to-end op timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest nearest-rank percentile that still has at
    * least `beyond` samples above it. For n samples that is the value at
    * rank n - beyond, reported as percentile 100 * (n - beyond) / n
    * (n = 20 gives p50, n = 40 p75, n = 100 p90). Below 2 * beyond samples
    * that percentile would sit under the median, so the tail is the
    * maximum, reported as p100.
    */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 2 * beyond) Tail(100.0, s.last, n)
    else Tail(100.0 * (n - beyond) / n, s(n - beyond - 1), n)
  }
}

/** Benchmark-side spans: name, parent, start and end, kept in memory.
  * A span's self time is its duration minus the part of its interval its
  * child spans cover (children may overlap each other; their union counts
  * once).
  */
final class Spans(clock: () => Long = () => System.nanoTime()) {
  import Spans.Span

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val start = clock()
    stack = (id, name, start) :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, parent, start, clock())
    }
  }

  def spans: Seq[Span] = done.toSeq

  def clear(): Unit = done.clear()

  def selfTime(s: Span): Long =
    (s.end - s.start) - Spans.covered(
      done.filter(_.parent == s.id).map(c => (c.start max s.start, c.end min s.end)).toSeq)

  /** Total duration and total self time of every span named `name`. */
  def totals(name: String): (Long, Long) = {
    val ss = done.filter(_.name == name)
    (ss.map(s => s.end - s.start).sum, ss.map(selfTime).sum)
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

  /** Length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > reach) { total += b - a; reach = b; started = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
