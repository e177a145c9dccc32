package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the index of the enclosing span
  * in the same tracer, or -1 for an op's root span; all spans of one client
  * op share `op`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, op: Long, name: String, start: Long,
    end: Long, parent: Int) {
  def durNs: Long = end - start
}

object Span {

  /** The span's time minus the part of it that its children cover. Children
    * may overlap each other and may stick out of the parent; only their
    * union inside the parent's interval is subtracted. */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }
}

/** In-memory span recorder for one client thread. When disabled, `span`
  * only runs its body, so an untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = 0L
  private var costNs = 0L

  def all: Seq[Span] = spans.toSeq

  /** Nanoseconds spent inside the tracer itself. */
  def overheadNs: Long = costNs

  /** Start a new client op; later root spans belong to it. */
  def newOp(): Long = { op += 1; op }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, op, name, 0L, 0L, parent)
      stack = id :: stack
      val start = System.nanoTime()
      costNs += start - t0
      try body
      finally {
        val end = System.nanoTime()
        spans(id) = spans(id).copy(start = start, end = end)
        stack = stack.tail
        costNs += System.nanoTime() - end
      }
    }

  /** Durations in ms of every span with this exact name. */
  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq

  /** Write all spans as JSON lines, with self time, to `path`. */
  def write(path: java.nio.file.Path): Unit = {
    val kids = spans.groupBy(_.parent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val self = Span.selfNs(s, kids.getOrElse(s.id, Nil).toSeq)
      w.write(s"""{"id":${s.id},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},""" +
        s""""self_ns":$self}""")
      w.newLine()
    } finally w.close()
  }
}
