package perfbench

import scala.collection.mutable.ArrayBuffer

/** The timed window shared by every workload: run operations until the
  * window's seconds are spent, stopping only at a multiple of `group`
  * operations (a whole pass) and running at least `minOps`.
  *
  * Untraced, every operation runs bare. Traced, whole groups alternate:
  * even groups run each operation inside a span with the listener
  * attached, odd groups with the listener detached and no span. Layer
  * metrics come from the traced operations; comparing the two halves gives
  * the tracing overhead. */
object Window {

  def run(ctx: Ctx, minOps: Int, maxOps: Int = Int.MaxValue, group: Int = 1,
      name: Int => String = _ => "")(op: Int => Op): Seq[Op] = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val ops = ArrayBuffer[Op]()
    var i = 0
    def more = i < maxOps && (i < minOps || i % group != 0 || System.nanoTime() < deadline)
    while (more) {
      val spanName = Option(name(i)).filter(_.nonEmpty).getOrElse(s"${ctx.workload}.op")
      ops += (ctx.probe match {
        case Some(_) if (i / group) % 2 == 0 =>
          ctx.trace.recording(on = true) {
            ctx.layered(spanName, op = true)(op(i))._1.copy(traced = true)
          }
        case Some(p) =>
          p.detach()
          try ctx.trace.recording(on = false)(op(i)) finally { p.attach(); () }
        case None => op(i)
      })
      i += 1
    }
    ops.toSeq
  }
}
