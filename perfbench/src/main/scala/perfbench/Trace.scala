package perfbench

import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds. `parent` is the id
  * of the span that caused this one (-1 for a root); spans of one query
  * share `query`.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      query: String, start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

object Trace {
  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(ch, s.start, s.end))
    }.toMap
  }
}

/** Clock shared by the benchmark's own spans and Spark's event times
  * (epoch milliseconds): nanoTime anchored to the epoch once.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** In-memory span log, written out when the run ends. */
final class SpanLog {
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 0
  /** A fresh span id, for a parent whose end is not known yet. */
  def newId(): Int = synchronized { val id = next; next += 1; id }
  def put(s: Span): Int = synchronized { buf += s; s.id }
  def add(parent: Int, name: String, kind: String, query: String,
          start: Long, end: Long): Int =
    put(Span(newId(), parent, name, kind, query, start, end))
  def all: Seq[Span] = synchronized(buf.toVector)
}
