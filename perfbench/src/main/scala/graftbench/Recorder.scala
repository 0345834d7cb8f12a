package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** A result check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)
}

/** One attempted operation. `timed` is false for warm-up and final checks;
  * only timed operations that succeeded contribute latency samples. */
final case class OpRec(id: Long, kind: String, client: Int, start: Double,
                       end: Double, ok: Boolean, timed: Boolean,
                       traced: Boolean, cause: String,
                       extra: Map[String, Double])

/** Runs operations under the tracer and records their outcome. An
  * exception or a failed check marks the operation failed with its cause;
  * a failed operation is never used as a latency sample. */
final class Recorder(val tracer: Tracer) {
  val ops = new ConcurrentLinkedQueue[OpRec]()
  @volatile var timed = false

  def op(kind: String, client: Int)(body: Long => Map[String, Double]): Boolean = {
    val id = tracer.begin(kind)
    val traced = tracer.on
    val t0 = tracer.now
    val (ok, cause, extra) =
      try {
        val x = tracer.span(id, "op")(body(id))
        (true, "", x)
      } catch {
        case e: CheckFailed => (false, s"check: ${e.getMessage}", Map.empty[String, Double])
        case e: Throwable =>
          (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}",
            Map.empty[String, Double])
      } finally tracer.end()
    ops.add(OpRec(id, kind, client, t0, tracer.now, ok, timed, traced, cause, extra))
    if (!ok) Console.err.println(s"[perfbench] $kind failed: $cause")
    ok
  }

  def all: Seq[OpRec] = ops.asScala.toSeq.sortBy(_.id)
}
