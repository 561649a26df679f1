package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a named interval with a parent and a shared trace id.
  * `parent` is the index of the enclosing span in the same trace, or -1. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the benchmark's own calls into the engine.
  * Spans are kept in a buffer and written once, at the end of the run.
  * Disabled (the untraced run), `span` only evaluates its body. The
  * recorder touches no Spark state: no job group, no local property, so it
  * cannot add jobs or change a plan. */
final class Trace(val enabled: Boolean, val traceId: String) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  /** Spans are recorded only while active: set-up and the untraced half of
    * the window run with the recorder off. */
  var active = false

  /** Runs `body` with recording switched on (traced run) or off. */
  def recording[A](on: Boolean)(body: => A): A = {
    val was = active
    active = on && enabled
    try body finally active = was
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, traceId, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Id the next span will get. */
  def nextId: Int = spans.length

  /** The spans as JSON; `extra` adds fields to the span with that id. */
  def toJson(extra: Map[Int, Map[String, Any]]): String = spans.map { s =>
    Json.value(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
      extra.getOrElse(s.id, Map.empty))
  }.mkString("[", ",", "]")
}
