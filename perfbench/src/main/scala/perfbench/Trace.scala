package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `name` is `<layer>.<what>`; the layer
  * prefix is how self time is attributed. `parent` is -1 for a root
  * span; `trace` groups the spans of one request, batch or pass. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Spans are recorded only while `active`
  * (the benchmark turns it on per operation in a traced run); the
  * timing itself is always taken, because the workloads report phase
  * times as end-to-end metrics in untraced runs too. Single-threaded:
  * the benchmark has one client thread. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var traceId = -1
  var active = false

  def all: Seq[Span] = spans.toSeq

  /** Run `body` as the root of trace `id`. */
  def root[T](id: Int, name: String)(body: => T): (T, Long) = {
    traceId = id
    span(name)(body)
  }

  /** Run `body`, returning its result and its duration in ns. */
  def span[T](name: String)(body: => T): (T, Long) = {
    val rec = active
    val id = spans.length
    if (rec) {
      spans += null // reserve the slot so children get later ids
      stack = id :: stack
    }
    val t0 = System.nanoTime()
    val out = try body finally {
      if (rec) stack = stack.tail
    }
    val t1 = System.nanoTime()
    if (rec) spans(id) = Span(id, stack.headOption.getOrElse(-1),
      traceId, name, t0, t1)
    (out, t1 - t0)
  }

  /** Like [[span]] but returns only the result. */
  def apply[T](name: String)(body: => T): T = span(name)(body)._1
}

object Trace {

  /** Self time of each span: its duration minus the part of its
    * interval that its direct children cover. Children may overlap
    * each other (a later change may record spans from several
    * threads) or stick out of the parent; only the union of their
    * intervals, clipped to the parent, is subtracted. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - unionLength(ivs))
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time summed per layer, in ns. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Spans as JSON lines, for the trace file written when a run ends. */
  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** Order statistics with the tail rule the benchmark reports by. */
object Stats {

  /** Nearest-rank percentile of `xs` at `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt.max(1).min(s.length)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The tail reported for a sample: the highest of the candidate
    * percentiles that still has at least ten samples above it, as
    * (percentile, value). None when the sample is too small for any
    * of them (fewer than 20 samples). */
  val TailCandidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailCandidates.find(p => samplesAbove(xs.length, p) >= 10)
      .map(p => (p, percentile(xs, p)))

  /** Samples strictly above the nearest-rank `p` percentile of n. */
  def samplesAbove(n: Int, p: Double): Int =
    n - math.ceil(p * n).toInt.max(1).min(n)
}
