package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, start, end) in nanoseconds of one
  * monotonic clock; spans nest by the call stack of the single client
  * thread. Spans observed from outside the call stack (a Spark SQL
  * execution reported by the listener, a query-planning phase read off
  * `QueryExecution.tracker`) are added with [[attach]] under the
  * innermost span that contains them. Nothing is written until [[json]]
  * is called at the end of the run.
  *
  * Disabled, [[span]] is a plain call of its body.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1
  /** Set while a stretch of the run is measured untraced, for the overhead comparison. */
  private var paused = false

  def active: Boolean = enabled && !paused

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      open.push((id, name, System.nanoTime()))
      try body
      finally {
        val (_, _, start) = open.pop()
        done += Span(id, currentId, name, start, System.nanoTime())
      }
    }

  /** Add a span observed from outside the call stack (a Spark SQL
    * execution, a planning phase) under the innermost span whose
    * interval contains it. Its clock may be a millisecond one, so
    * containment allows a millisecond of slack.
    */
  def attach(name: String, start: Long, end: Long): Unit =
    if (active && end > start) {
      val slack = 1000000L
      def holds(s: Long, e: Long) = s - slack <= start && end <= e + slack
      val now = System.nanoTime()
      val candidates = done.reverseIterator.take(4096).filter(s => holds(s.start, s.end)).map(s => (s.id, s.end - s.start)) ++
        open.iterator.filter(o => holds(o._3, now)).map(o => (o._1, now - o._3))
      val parent = if (candidates.isEmpty) currentId else candidates.minBy(_._2)._1
      done += Span(nextId, parent, name, start, end)
      nextId += 1
    }

  private def currentId: Int = open.headOption.fold(0)(_._1)

  /** Run `body` with span recording off (the untraced half of the overhead comparison). */
  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  private lazy val children: Map[Int, Seq[Span]] = done.toSeq.groupBy(_.parent)

  /** A span's duration minus the part of its interval its children cover, in ms. */
  private def selfMs(s: Span): Double = {
    var covered = 0L
    var upTo = s.start
    children.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) => if (b > upTo) { covered += b - math.max(a, upTo); upTo = b } }
    (s.end - s.start - covered) / 1e6
  }

  private def descendants(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(k => k +: descendants(k))

  /** For each span named `root`, the summed self time (ms) of its
    * descendants whose name satisfies `pick`. Call once recording is over.
    */
  def selfUnder(root: String, pick: String => Boolean): Seq[Double] =
    done.toSeq.filter(_.name == root).sortBy(_.start).map(r => descendants(r).filter(s => pick(s.name)).map(selfMs).sum)

  /** Self times (ms) of every span named `name` below a span named `root`. */
  def selfEach(root: String, name: String): Seq[Double] =
    done.toSeq.filter(_.name == root).flatMap(r => descendants(r).filter(_.name == name).map(selfMs))

  def json: String = done.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
}
