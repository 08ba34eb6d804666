package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` is shared by every span
  * of one trigger, request or crawl cycle; `parent` is the enclosing span
  * (0 = root). Times are `System.nanoTime`. */
final case class Span(id: Long, trace: String, parent: Long, name: String,
                      start: Long, end: Long) {
  def nanos: Long = end - start
  def json: String =
    s"""{"id":$id,"trace":"$trace","parent":$parent,"name":"$name",""" +
      s""""start_ns":$start,"end_ns":$end}"""
}

/** In-memory span recorder. Disabled, it records nothing and only runs the
  * body; enabled, spans nest per thread through a parent stack. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, trace, parent, name, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  /** Record an interval measured elsewhere (e.g. from stream progress). */
  def record(name: String, trace: String, start: Long, end: Long): Span = {
    val s = Span(ids.incrementAndGet(), trace, 0L, name, start, end)
    if (enabled) spans.add(s)
    s
  }

  /** Move recorded spans under a parent found after the fact: `parentOf`
    * returns the span a recorded span belongs in, if any; the span then
    * takes that parent and its trace id. */
  def adopt(parentOf: Span => Option[Span]): Unit =
    spans.asScala.toSeq.foreach { s =>
      parentOf(s).foreach { p =>
        if (spans.remove(s)) spans.add(s.copy(trace = p.trace, parent = p.id))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = spans.clear()

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, all.map(_.json).asJava)
}

object Tracer {
  /** Self time per span name: each span's duration minus the part of its
    * interval covered by the spans nested in it, summed per name. A span
    * is nested in another when it shares its trace id and lies inside its
    * interval — spans recorded on other threads (a store append inside a
    * stream trigger) count as children too. */
  def selfNanos(spans: Seq[Span]): Map[String, Long] = {
    val byTrace = spans.groupBy(_.trace)
    def inside(c: Span, s: Span) = c.id != s.id && c.start >= s.start &&
      c.end <= s.end && (c.nanos < s.nanos || c.id > s.id)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.nanos - union(byTrace(s.trace).filter(inside(_, s)).map(c => (c.start, c.end)))
      }.sum
    }
  }

  /** Total length of a union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
