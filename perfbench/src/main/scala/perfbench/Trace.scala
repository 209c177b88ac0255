package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for one run. Spans are kept until the run
  * ends and written out then; `enabled = false` makes every call a
  * plain pass-through, so untraced runs pay nothing for it. Spans opened
  * on the calling thread nest under the innermost open one. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  /** Recording switch within a traced run (off for its untraced passes). */
  @volatile var on: Boolean = enabled

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get
      val parent = stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  /** Record a span measured elsewhere (e.g. on a Spark callback thread),
    * under the innermost span open on the calling thread. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (on) synchronized {
      nextId += 1
      done += Span(nextId, open.get.headOption.getOrElse(0), name, startNs, endNs)
    }

  def spans: Seq[Span] = synchronized(done.toList)
}

object Tracer {

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children counted
    * once, children clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per span name: (count, total ms, self ms). */
  def summary(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6))
    }
  }
}
