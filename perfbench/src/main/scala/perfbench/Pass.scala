package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One pass of a workload: the engine calls it made, with their wall
  * times and outcomes, the counters the workload read off the engine's
  * reports, and the checks run on its outputs afterwards.
  *
  * A call that throws and a check that fails are both failures; neither
  * ends the pass early, so a failure can never make a pass shorter than
  * the work it stands for. */
final class Pass(val index: Int, val phase: String) {
  import Pass._

  val calls = mutable.ArrayBuffer.empty[Call]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0
  var startMs = 0L
  var endMs = 0L
  var seconds = 0.0

  /** Time one engine call; a throw is recorded and yields None. */
  def call[T](name: String, kind: String)(f: => T): Option[T] = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(f) catch {
      case NonFatal(e) =>
        failures += s"$name threw ${e.toString.take(300)}"
        None
    }
    calls += Call(name, kind, ms, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Run one output check; `f` returns a failure message or None. */
  def check(name: String)(f: => Option[String]): Unit = {
    checks += 1
    val r = try f catch { case NonFatal(e) => Some(s"threw ${e.toString.take(300)}") }
    r.foreach(m => failures += s"check $name: $m")
  }

  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  def attempted: Int = calls.size + checks

  /** Wall times of the calls of one kind. */
  def callSeconds(kind: String): Seq[Double] =
    calls.filter(_.kind == kind).map(_.seconds).toSeq
}

object Pass {
  final case class Call(name: String, kind: String, startMs: Long,
      endMs: Long, seconds: Double)

  /** Compare an id set against its expectation; the message names the
    * size of each side of the difference. */
  def sameIds(got: Set[Long], want: Set[Long]): Option[String] =
    if (got == want) None
    else Some(s"got ${got.size} ids, want ${want.size}: " +
      s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
}
