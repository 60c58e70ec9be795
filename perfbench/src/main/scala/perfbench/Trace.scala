package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch nanoseconds (a monotonic clock
  * anchored once to the wall clock), so spans line up with the epoch
  * milliseconds Spark's listener events carry. `parent` is -1 at the root. */
final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
                      parent: Int, run: String) {
  def dur: Long = end - start
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. Overlapping children count once. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(cs, s.start, s.end))
    }.toMap
  }
}

/** Records spans in memory when enabled; a disabled tracer only runs the
  * body. Spans nest by call order on one thread (the benchmark's single
  * client thread). */
final class Tracer(val run: String, val enabled: Boolean) {
  private val anchor = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val buf = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var next = 0

  def now(): Long = anchor + System.nanoTime()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, name, layer, t0, now(), parent, run)
      }
    }

  def spans: Seq[Span] = buf.toSeq
}
