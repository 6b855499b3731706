package e2ebench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is one call
  * across a layer boundary: name, start and end (ns), the span that
  * caused it, and the op it belongs to. Spans are opened and closed on
  * the driver thread, so a stack gives the parent. Nothing is written
  * until the run ends.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = -1

  /** Start a new op: its root span is named `name`. */
  def beginOp(id: Int, name: String): Unit = if (enabled) {
    op = id
    stack = Nil
    open(name)
  }

  def endOp(): Unit = if (enabled) { close(); op = -1 }

  def span[T](name: String)(f: => T): T =
    if (!enabled || op < 0) f
    else {
      open(name)
      try f finally close()
    }

  private def open(name: String): Unit = synchronized {
    val s = Span(spans.size, name, op, stack.headOption.getOrElse(-1),
      System.nanoTime(), -1L)
    spans += s
    stack = s.id :: stack
  }

  private def close(): Unit = synchronized {
    spans(stack.head).end = System.nanoTime()
    stack = stack.tail
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time (s) of every span: its duration minus the time its
    * children cover. Children of one span run one after another on the
    * same thread, so they never overlap.
    */
  def selfTimes(op: Int): Seq[(Span, Double)] = {
    val mine = all.filter(_.op == op)
    val childNs = mine.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum
    }
    mine.map(s => s -> (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9)
  }
}

object Trace {
  final case class Span(id: Int, name: String, op: Int, parent: Int,
      start: Long, var end: Long)
}
