package graft.perfbench

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      size: String, cpus: Int, scratch: String, traceOut: String)

/** Benchmark JVM entry point; `perfbench/run.py` compiles and launches it.
  *
  * One run: host readings, Spark at `local[cpus]`, the workload's set-up
  * (repeated, median reported as `setup_s`), one warm-up operation, the
  * timed closed loop, then the answer checks. With `--trace 1` the loop is
  * split: half untraced, half under spans with the Spark listener attached
  * (their ratio is `bench.trace_overhead_pct`), then the layer probes.
  * Prints one detail line and, last, the result object.
  */
object Main {
  private val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("size", "full"), m("cpus").toInt, m("scratch"), m("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jiffies0 = Host.cpuJiffies
    val cpuProbe = Host.cpuProbeSeconds()
    val spark = SparkSession.builder().master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", args.cpus) // as graft.tools.Cli sets it
      .config("spark.local.dir", s"${args.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.scratch}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.scratch}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, args, jiffies0, cpuProbe) finally spark.stop()
    sys.exit(code)
  }

  private val t0 = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  private def run(spark: SparkSession, args: Args, jiffies0: (Long, Long), cpuProbe: Double): Int = {
    phase("session")
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, args, tracer)
    val wl: Workload = args.workload match {
      case "build" => new BuildWorkload(ctx)
      case "query" => new QueryWorkload(ctx)
      case "churn" => new ChurnWorkload(ctx)
      case "dedup" => new DedupWorkload(ctx)
    }
    // setup_s is an end-to-end metric: a traced run, which does not report
    // it, and a tiny one set up once
    val setupS = (0 until (if (ctx.tiny || args.trace) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase(setupS.map(s => f"$s%.1f").mkString("setup (", " s, ", " s)"))
    val rec = new Recorder(tracer)
    wl.warmUp(rec) // answers checked, time not kept
    rec.samples.clear()
    val recs = if (!args.trace) {
      wl.loop(rec, args.seconds)
      Seq(rec)
    } else {
      wl.loop(rec, args.seconds / 2)
      tracer.enable()
      val traced = new Recorder(tracer)
      wl.loop(traced, args.seconds / 2)
      Seq(rec, traced)
    }
    phase("loop")
    wl.check(rec) // before the probes, which write to the workload's index
    phase("check")
    val probeRec = new Recorder(tracer)
    val layers = if (!args.trace) None else Some(new Probes(ctx, wl, probeRec, recs.tail).run())
    val all = recs :+ probeRec
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.errors).take(10).foreach(e => System.err.println(s"perfbench: $e"))
    val stealPct = Host.stealPct(jiffies0, Host.cpuJiffies)
    val e2e = recs.head.endToEnd
    val common = Seq(("setup_s", Host.median(setupS), "s"), ("op_p50_ms", e2e("op_p50_ms"), "ms"),
      ("cpu_ms_per_op", e2e("cpu_ms_per_op"), "ms"))
    val detail = common ++ Seq(("ops_per_s", e2e("ops_per_s"), "1/s"), ("op_p90_ms", e2e("op_p90_ms"), "ms"),
      ("peak_rss_mb", Host.peakRssMb, "MB")) ++ wl.detail(recs.take(1)) ++ Seq(
      ("fail_ratio", failed.toDouble / math.max(1, attempted), "ratio"),
      ("host.steal_pct", stealPct, "%"), ("host.cpu_probe_s", cpuProbe, "s"),
      ("setup_runs", setupS.size.toDouble, "count"), ("ops", recs.head.samples.size.toDouble, "count"))
    println("perfbench-detail " + Json.obj(args.workload, detail))

    val metrics: Seq[(String, Double, String)] = layers match {
      case None => common
      case Some(l) =>
        val untraced = recs.head.endToEnd("ops_per_s")
        val traced = recs(1).endToEnd("ops_per_s")
        val jobFloor = (0 until 15).map { _ =>
          val t0 = System.nanoTime()
          spark.sparkContext.parallelize(Seq(1), 1).count()
          (System.nanoTime() - t0) / 1e6
        }
        // a lower bound of the part of one full build that is fixed cost:
        // its job count times the wall of an empty job
        val floorShare = l("build.jobs")._1 * Host.median(jobFloor) /
          (Host.median(ctx.buildWalls.toSeq) * 1000)
        l.toSeq.map { case (k, (v, u)) => (k, v, u) } ++ Seq(
          ("build.job_floor_share", floorShare, "ratio"),
          ("spark.job_floor_ms", Host.median(jobFloor), "ms"),
          ("host.steal_pct", stealPct, "%"), ("host.cpu_probe_s", cpuProbe, "s"),
          ("bench.trace_overhead_pct", (untraced / traced - 1) * 100, "%"))
    }
    if (args.trace) {
      val f = new java.io.File(args.traceOut)
      f.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(f, s"${args.workload}-seed${args.seed}.json").toPath,
        tracer.toJson.getBytes("UTF-8"))
    }
    val ok = failed == 0
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": """ +
      Json.metrics(metrics) + "}")
    if (ok) 0 else 1
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def obj(workload: String, ms: Seq[(String, Double, String)]): String =
    s"""{"workload": "$workload", "metrics": ${metrics(ms)}}"""
}
