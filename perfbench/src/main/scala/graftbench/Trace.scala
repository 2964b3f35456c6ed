package graftbench

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans wrap the benchmark's
  * own calls into each graft layer (one calling thread); counts are taken
  * at the same boundaries. Everything is written out once, at the end.
  * When tracing is off, `span` is a plain call. */
final class Trace(val on: Boolean, val runId: String) {
  import Trace.Rec

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private var paused = false

  /** Runs `body` with span recording off (the untraced side of
    * `trace.overhead_s`). */
  def without[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  def span[T](name: String)(body: => T): T =
    if (!on || paused) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        recs += Rec(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** A count attached to the innermost open span. */
  def count(name: String, value: Double): Unit =
    if (on && !paused) counts += ((stack.head, name, value))

  /** Spans with this name, in completion order. */
  def named(name: String): Seq[Rec] = recs.filter(_.name == name).toSeq

  def children(id: Int): Seq[Rec] = recs.filter(_.parent == id).toSeq

  /** Duration minus the part of it covered by the span's children. */
  def selfSecs(r: Rec): Double = {
    val kids = children(r.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (r.endNs - r.startNs - covered) / 1e9
  }

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    recs.sortBy(_.startNs).foreach { r =>
      sb ++= Json.obj("run" -> runId, "id" -> r.id, "parent" -> r.parent, "name" -> r.name,
        "start_ns" -> r.startNs, "end_ns" -> r.endNs, "self_s" -> selfSecs(r)) += '\n'
    }
    counts.foreach { case (span, name, v) =>
      sb ++= Json.obj("run" -> runId, "span" -> span, "count" -> name, "value" -> v) += '\n'
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Rec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}
