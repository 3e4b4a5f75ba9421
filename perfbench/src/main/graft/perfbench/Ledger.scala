package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Thrown by [[Ledger.call]] after it has counted the failed layer call;
  * aborts the rest of the rep, whose later layers need this output.
  */
final class LayerFailed(val layer: String, cause: Throwable)
  extends RuntimeException(s"$layer failed: $cause", cause)

/** Counts layer calls and output checks: attempted, failed, and why. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** Run one layer call, inside `tracer`'s span of the same name when
    * tracing. A call that throws counts as attempted and failed.
    */
  def call[T](name: String, tracer: Option[Tracer])(body: => T): T = {
    attempted += 1
    try tracer.fold(body)(_.span(name)(body))
    catch {
      case e: LayerFailed => throw e
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: $e"
        throw new LayerFailed(name, e)
    }
  }

  /** Record one output check; returns `ok`. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      errors += s"check $name: $detail"
    }
    ok
  }
}
