package perfbench

import scala.collection.mutable.ArrayBuffer

/** A closed interval of wall time in epoch milliseconds (fractional). */
final case class Interval(start: Double, end: Double) {
  def duration: Double = math.max(0.0, end - start)
}

/** One span of the benchmark trace: a layer boundary the harness
  * crossed, with the span that caused it (`parent`, -1 for a root). */
final case class Span(id: Int, name: String, parent: Int, start: Double,
                      end: Double) {
  def interval: Interval = Interval(start, end)
  def duration: Double = math.max(0.0, end - start)
}

object Trace {

  /** Length of the part of `within` that the union of `children`
    * covers. Children are clipped to `within`, so the result never
    * exceeds `within.duration`, however the children overlap. */
  def covered(within: Interval, children: Iterable[Interval]): Double = {
    val clipped = children.iterator
      .map(c => Interval(math.max(c.start, within.start),
        math.min(c.end, within.end)))
      .filter(c => c.end > c.start)
      .toSeq.sortBy(_.start)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { c =>
      if (curS.isNaN) { curS = c.start; curE = c.end }
      else if (c.start <= curE) curE = math.max(curE, c.end)
      else { total += curE - curS; curS = c.start; curE = c.end }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration less the time its children
    * cover. */
  def selfTime(span: Interval, children: Iterable[Interval]): Double =
    span.duration - covered(span, children)
}

/** In-memory span recorder. Spans are kept until the run ends; with
  * tracing off the harness never creates one. Times are epoch
  * milliseconds derived from `System.nanoTime`, on the same clock as
  * the Spark listener's event times. */
final class Tracer {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]

  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** Start a span; its id doubles as the Spark job group of the work
    * done inside it. */
  def open(name: String, parent: Int): Int = {
    val t0 = now()
    spans += Span(spans.size, name, parent, t0, t0)
    spans.size - 1
  }

  def close(id: Int): Unit = spans(id) = spans(id).copy(end = now())

  def all: Seq[Span] = spans.toSeq
}
