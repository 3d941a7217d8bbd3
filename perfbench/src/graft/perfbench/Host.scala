package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host readings and small numeric helpers. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole benchmark JVM (client, Spark tasks, GC). */
  def processCpuNs: Long = os.getProcessCpuTime

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb: Double = procStatus("VmHWM") / 1024.0

  private def procStatus(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").tail
      .take(8).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else 100.0 * (to._1 - from._1) / total
  }

  /** A fixed single-thread integer loop: its wall time tracks how much CPU
    * this host gives one thread right now.
    */
  def cpuProbeSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keep the loop live
    s
  }

  /** Regular files under `dir`, relative path -> (size, mtime). */
  def files(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  def bytes(dir: String): Long = files(dir).values.map(_._1).sum

  /** Bytes of files created or rewritten between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.iterator.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def delete(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  /** Linear-interpolated percentile (p in [0, 100]) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
