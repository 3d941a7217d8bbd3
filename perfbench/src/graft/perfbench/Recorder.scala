package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed client operation of the closed loop. */
final case class Sample(name: String, cls: String, wallMs: Double, cpuMs: Double)

/** The single client of a closed loop: times each operation (wall and
  * process CPU), opens its root span, and counts attempts and failures.
  */
final class Recorder(tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  def op[A](name: String, cls: String = "")(f: => A): Option[A] = {
    attempted += 1
    val c0 = Host.processCpuNs
    val t0 = System.nanoTime()
    try {
      val a = tracer.span(s"client.$name")(f)
      samples += Sample(name, cls, (System.nanoTime() - t0) / 1e6, (Host.processCpuNs - c0) / 1e6)
      Some(a)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** A wrong answer found after the operation ran. */
  def wrong(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"wrong answer: $what".take(300)
  }

  /** A check made outside the loop (set-up or after it). */
  def check(ok: Boolean, what: String): Unit = {
    attempted += 1
    if (!ok) wrong(what)
  }

  def timedSeconds: Double = samples.map(_.wallMs).sum / 1000

  def walls(filter: Sample => Boolean = _ => true): Seq[Double] =
    samples.filter(filter).map(_.wallMs).toSeq

  /** The workload-independent end-to-end figures of this loop. */
  def endToEnd: Map[String, Double] = {
    val w = walls()
    Map(
      "op_p50_ms" -> Host.median(w),
      "op_p90_ms" -> Host.pct(w, 90),
      "ops_per_s" -> (if (w.isEmpty) 0.0 else w.size / (w.sum / 1000)),
      // a median: a run's first operations pay for JIT compilation, and a
      // fast host fits more operations in a run to spread that cost over
      "cpu_ms_per_op" -> Host.median(samples.map(_.cpuMs).toSeq))
  }
}
