package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is 0 for a root; `key` names the query execution or stream
  * batch the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long, key: String) {
  def durUs: Long = endUs - startUs
}

/** In-memory span buffer for the traced run. Disabled, it records
  * nothing and costs one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def record(name: String, key: String, parent: Long, startUs: Long, endUs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, parent, name, startUs, endUs, key))
      id
    }

  /** A span whose id is known before its body runs, so the body can
    * parent child spans on it. */
  def span[T](name: String, key: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val start = Clock.nowUs()
      try body(id)
      finally buf.add(Span(id, parent, name, start, Clock.nowUs(), key))
    }

  def spans: Vector[Span] = buf.iterator().asScala.toVector

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"key":${Json.str(s.key)}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {

  /** Length of the union of `intervals`, clipped to `[lo, hi)`. */
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
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(kids, s.startUs, s.endUs))
    }.toMap
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Epoch-microsecond clock with a monotonic source, comparable with the
  * epoch-millisecond times Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
  def nowMs(): Long = nowUs() / 1000L
}
