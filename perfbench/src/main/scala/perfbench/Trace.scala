package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span; spans of
  * one operation share `op`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spans recorded by the benchmark around its calls into the engine. They
  * stay in memory and are written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]

  def span[A](name: String, op: Long, parent: Int = 0)(f: Int => A): A = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id) finally spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Each span's duration minus the time its children cover (children of
    * one span run one after another, so their union is their sum, clipped
    * to the parent's interval). */
  def selfMs: Seq[(String, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => math.max(0L, math.min(k.end, s.end) - math.max(k.start, s.start))).sum
      s.name -> (s.end - s.start - kids) / 1e6
    }
  }

  def selfMsOf(name: String): Seq[Double] = selfMs.collect { case (`name`, v) => v }
  /** Summed duration of one operation's spans with the given names. */
  def msOf(op: Long, names: String*): Double =
    all.filter(s => s.op == op && names.contains(s.name)).map(_.ms).sum

  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}
