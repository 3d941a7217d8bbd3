package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a layer. `parent` is 0 for a root span;
  * spans of one client operation share `traceId` (the root's id).
  */
final class Span(val id: Long, val traceId: Long, val parent: Long,
                 val name: String, val startNs: Long) {
  var endNs: Long = -1L
  def durNs: Long = endNs - startNs
  def durMs: Double = durNs / 1e6
  /** Collection time of every JVM collector while the span was open. */
  var gcMs = 0L
  // Spark work attributed to this span (by job group) — filled by SpanListener
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** In-memory span recorder. Disabled, `span` is a plain call. Enabled, each
  * span sets the Spark job group to its id, so every job the call starts —
  * also from child threads such as `IndexBuild.inParallel`, which inherit
  * the caller's local properties — is attributed to the innermost open span.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val listener = new SpanListener(byId)

  /** Start recording spans; the listener is attached only from here on. */
  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    enabled = true
  }

  def span[A](name: String)(f: => A): A = {
    if (!enabled) return f
    val parent = stack.headOption
    val s = new Span(nextId, parent.map(_.traceId).getOrElse(nextId),
      parent.map(_.id).getOrElse(0L), name, System.nanoTime())
    nextId += 1
    byId.synchronized { byId(s.id) = s }
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
    val gc0 = Tracer.gcMs
    try f
    finally {
      s.endNs = System.nanoTime()
      s.gcMs = Tracer.gcMs - gc0
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of it covered by the span's children. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    s.durNs - covered
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      s"""{"id":${s.id},"trace_id":${s.traceId},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6},""" +
        s""""end_ms":${(s.endNs - t0) / 1e6},"self_ms":${selfNs(s) / 1e6},""" +
        s""""jobs":${s.jobs},"tasks":${s.tasks},"cpu_ms":${s.cpuNs / 1e6},""" +
        s""""gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""input_bytes":${s.inputBytes},"output_bytes":${s.outputBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  private val collectors =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray(
      Array.empty[java.lang.management.GarbageCollectorMXBean])
  def gcMs: Long = collectors.map(_.getCollectionTime).sum
}

/** Attributes Spark jobs, stages and task metrics to the span whose id is
  * the job's group.
  */
final class SpanListener(byId: mutable.HashMap[Long, Span]) extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  private def spanOf(group: String): Option[Span] =
    Option(group).filter(_.startsWith("perfbench-"))
      .flatMap(g => byId.synchronized(byId.get(g.stripPrefix("perfbench-").toLong)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => spanOf(p.getProperty("spark.jobGroup.id"))).foreach { s =>
      s.jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
}
