package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the id of the span that caused it
  * (-1 for the root). Times are `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def ns: Long = end - start
}

/** In-memory span recorder. Spans nest by call structure; nothing is
  * written until [[Trace.write]] at the end of the run.
  */
final class Trace {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      done += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val origin = if (done.isEmpty) 0L else done.map(_.start).min
    val self = Trace.selfTimes(done.toSeq)
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.escape(s.name)}",""" +
        s""""start_us":${(s.start - origin) / 1000},"end_us":${(s.end - origin) / 1000},""" +
        s""""self_us":${self(s.id) / 1000}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.ns - covered(s.start, s.end, cs))
    }.toMap
  }
}

object Json {
  def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString
}
