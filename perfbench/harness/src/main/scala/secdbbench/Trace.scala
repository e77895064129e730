package secdbbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is one call of a
  * public function (`Q.fn`, `executedPlan`, `collect`, a `ManifestTable`
  * method) with its name, start, end, parent span and operation id.
  * Spans stay in memory while the run measures and are written once at
  * the end. While disabled, [[span]] is a plain call. */
final class Trace {
  var enabled = false
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, name, op, t0, t1)
      }
    }

  /** Seconds in spans named `name` that belong to operation `op`. */
  def seconds(op: Long, name: String): Double =
    spans.iterator.filter(s => s.op == op && s.name == name).map(_.seconds).sum

  /** Span duration minus the durations of its direct children. */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.iterator.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** One JSON object per span, with its self time, oldest first. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val lines = spans.sortBy(_.id).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id)))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, op: Long,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
