package graftbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch nanoseconds, so they line up with
  * the epoch-millisecond stage and job times Spark reports. `parent` is -1
  * for a root span; all spans of one workload iteration share `iter`. */
final case class Span(id: Int, name: String, parent: Int, iter: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Intervals {
  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def coveredNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children count once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(children.map(c => (c.startNs, c.endNs)), span.startNs, span.endNs)
}

/** In-memory span recorder; spans are written out once, at exit. */
final class Tracer(val runId: String) {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var iter: Int = -1

  def nowNs: Long = epochOffsetNs + System.nanoTime()

  /** Runs `f` inside a span. `onOpen` sees the span id and `onClose` the
    * span id and its parent's (-1 at the root); they tag and drain the
    * Spark jobs the span starts. */
  def span[A](name: String, onOpen: Int => Unit = _ => (), onClose: (Int, Int) => Unit = (_, _) => ())(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    onOpen(id)
    val t0 = nowNs
    try f
    finally {
      val t1 = nowNs
      onClose(id, parent)
      open = open.tail
      done += Span(id, name, parent, iter, t0, t1)
    }
  }

  def spans: Seq[Span] = done.toSeq

  def children(id: Int): Seq[Span] = done.filter(_.parent == id).toSeq

  /** `id` and all its descendants. */
  def subtree(id: Int): Set[Int] = {
    val kids = done.groupBy(_.parent)
    def go(i: Int): Set[Int] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.id).map { s =>
      s"""{"run_id":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
