package perfbench

import scala.collection.mutable

/** One timed layer call: name, start, end (System.nanoTime), parent span
  * id (-1 for a root) and the run it belongs to. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Disabled, `apply` is a
  * plain call; enabled, it records a span whose parent is the innermost
  * span open on the calling thread. Spans stay in memory until [[dump]]. */
final class Spans(run: String) {
  @volatile var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get
      val parent = stack.headOption.getOrElse(-1)
      open.set(id :: stack)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.set(stack)
        synchronized { done += Span(id, parent, name, run, start, end) }
      }
    }

  def all: Seq[Span] = synchronized(done.toSeq.sortBy(_.id))

  /** Self time per span: its duration minus the time its children cover
    * (the union of their intervals, so concurrent children count once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- ivs) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Write every span, with its self time, as a JSON array. */
  def dump(path: String): Unit = {
    val spans = all
    val self = selfNs(spans)
    val t0 = spans.map(_.startNs).reduceOption(_ min _).getOrElse(0L)
    val rows = spans.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "run" -> s.run, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self(s.id) / 1e6)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json.render(rows).getBytes("UTF-8"))
  }
}
