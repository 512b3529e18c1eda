package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.math3.special.Beta

/** One recorded interval. `parent` is -1 for an op's root span; spans of
  * one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
  /** Layer = the name's first dot-separated component (`connector.plan`
    * belongs to `connector`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder around the benchmark's own calls into each
  * layer. When `on` is false every `span` call is a plain pass-through, so
  * the untraced timed section makes exactly the same program calls. */
final class Tracer(val on: Boolean) {
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  /** Root span of op `opId`; nested `span` calls become its children. */
  def root[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    span(name)(body)
  }

  /** A child of `parentId` recorded after that span has closed: layer
    * probes run this way, beside the op rather than on its critical path. */
  def sibling[T](parentId: Int, name: String)(body: => T): T =
    if (!on) body
    else {
      val saved = stack
      stack = List(parentId)
      try span(name)(body) finally stack = saved
    }

  def lastRootId: Int = spans.lastIndexWhere(_.parent == -1)
}

object Trace {
  /** Total length of the union of `[s, e)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its own
    * interval that its children cover (children are clipped to the
    * parent, and overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Summed self time per layer, in nanoseconds. */
  def layerSelf(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of the q-quantile: a mean of all order
    * statistics, weighted by a Beta(q(n+1), (1-q)(n+1)) density. Pooled
    * latencies of different ops form clusters with gaps between them;
    * the sample median jumps across such a gap when one sample moves,
    * while this estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.length
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double): Double =
      if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
  }

  /** Samples strictly above the q-quantile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  /** Seconds for one pass over the op list: each op's median latency
    * over the passes of a run, summed over the ops of a pass. */
  def passSeconds(latMs: Seq[(String, Double)]): Double =
    latMs.groupBy(_._1).values.map(xs => median(xs.map(_._2))).sum / 1e3

  /** Passes whose timings count, given the share of CPU time the
    * hypervisor took during each (`steal`, percent) and the `planned`
    * pass count. On a shared virtual machine that steal is what slows a
    * whole pass, by more than the bounds a regression gate can use.
    * Passes at or below `CalmStealPct` count; when fewer than half the
    * planned passes are that calm, that many passes with the least steal
    * count. Where steal is unknown, every pass counts. */
  def calmPasses(steal: Seq[Double], planned: Int): Set[Int] = {
    val need = (planned + 1) / 2
    val calm = steal.indices.filter(i => !(steal(i) > CalmStealPct))
    if (calm.length >= need) calm.toSet
    else steal.indices.sortBy(steal(_)).take(need).toSet
  }

  /** Whether to run one more pass after `steal.length` passes: fewer
    * than half the planned passes were calm, and fewer than twice the
    * planned passes have run. A burst of steal often ends within a few
    * passes; the extra passes give the calm ones a chance to count. */
  def morePasses(steal: Seq[Double], planned: Int): Boolean =
    steal.length < planned || (steal.length < 2 * planned &&
      steal.count(x => !(x > CalmStealPct)) < (planned + 1) / 2)
  val CalmStealPct = 2.0

  /** The p90 only when at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.nonEmpty && beyond(xs, 0.9) >= 10) Some(quantile(xs, 0.9)) else None
}
