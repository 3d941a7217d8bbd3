package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import graft.build.IndexBuild
import graft.core.{Gram, Postings, Tokenizer}
import graft.ops.Dedup
import graft.query.Wand
import graft.sources.WebCorpus

/** The traced run's per-layer measurements. Each layer is measured from
  * outside: by timing calls into its public (or `private[graft]`) entry
  * points under spans, and by the Spark work the span listener attributes
  * to those spans. Layers the workload's own loop leaves idle are exercised
  * once here on the workload's inputs, so every layer reports on every
  * workload.
  */
final class Probes(ctx: Ctx, wl: Workload, probeRec: Recorder, tracedLoop: Seq[Recorder]) {
  import ctx._
  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = out(name) = (v, unit)

  private def med(xs: Seq[Double]): Double = Host.median(xs)
  private def spansOf(name: String): Seq[Span] = tracer.named(name)

  def run(): mutable.LinkedHashMap[String, (Double, String)] = {
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally System.err.println(f"perfbench: probe $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    timed("core")(core())
    val corpus = wl.probeCorpus
    val built = timed("build")(build(corpus))
    val dir = wl.probeIndex.getOrElse(built)
    timed("query")(query(dir))
    timed("maint")(maint(dir, corpus))
    timed("ops")(ops(wl.probeDedupDocs))
    out
  }

  // -------------------------------------------------------------- core

  private def throughput(name: String, units: Double)(f: => Unit): Double = {
    val xs = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      tracer.span(name)(f)
      units / ((System.nanoTime() - t0) / 1e9)
    }
    med(xs)
  }

  private def core(): Unit = {
    val texts = (0 until (if (tiny) 200 else 2000)).map(i => WebCorpus.makeText(i.toLong, args.seed))
    val mb = texts.map(_.getBytes("UTF-8").length).sum / 1e6
    var sink = 0L
    put("core.chunk_mb_s", throughput("core.chunk", mb) {
      texts.foreach(t => sink += IndexBuild.chunkDoc("u", null, "en", 0, t, IndexBuild.ChunkMode.Lines).size)
    }, "MB/s")
    put("core.tokenize_mb_s", throughput("core.tokenize", mb) {
      texts.foreach(t => sink += Tokenizer.termFreqs(t).length)
    }, "MB/s")
    put("core.grams_mb_s", throughput("core.grams", mb) {
      texts.foreach(t => sink += Gram.gramsSorted(partial = false, Seq(t)).length)
    }, "MB/s")
    val rng = new java.util.Random(args.seed)
    val nPost = if (tiny) 20000 else 200000
    val postings = {
      var d = 0L
      Array.fill(nPost) { d += 1 + rng.nextInt(8); (d, 1 + rng.nextInt(4), 5L + rng.nextInt(30)) }
    }
    def encode(): Seq[Array[Byte]] = postings.grouped(5000).map { seg =>
      val b = new Postings.SegmentBuilder(1.2, 0.75, 20.0)
      seg.foreach { case (d, tf, dl) => b.add(d, tf, dl) }
      b.result()
    }.toSeq
    val segs = encode()
    put("core.postings_encode_mdocs_s",
      throughput("core.postings_encode", nPost / 1e6)(sink += encode().size), "Mdocs/s")
    put("core.postings_decode_mdocs_s", throughput("core.postings_decode", nPost / 1e6) {
      segs.foreach(s => sink += Postings.decodeAll(s)._1.length)
    }, "Mdocs/s")
    val args2 = Seq("the", "word")
    put("core.verify_mb_s", throughput("core.verify", mb) {
      texts.foreach(t => sink += Tokenizer.verifyAll(t, args2, partial = false))
    }, "MB/s")
    if (sink == 42L) println("")
  }

  // ------------------------------------------------------------- build

  private val Stages = Seq("chunks", "ids", "postings_terms", "postings_grams", "dictionary")

  /** One stage at a time, as a resumed build runs them. The overlap figure
    * compares their sum with the run's untraced `build()` walls.
    */
  private def build(c: Corpus): String = {
    val dir = path("probe-index-staged")
    spark.conf.set("spark.sql.files.maxPartitionBytes", cfg.maxPartitionBytes.toString)
    var stats: IndexBuild.DocStats = null
    val outBytes = mutable.HashMap.empty[String, Long]
    Stages.foreach { st =>
      val before = Host.files(dir)
      tracer.span(s"build.$st") {
        st match {
          case "chunks" => IndexBuild.stageChunks(spark, c.df, dir, cfg)
          case "ids" => stats = IndexBuild.stageIds(spark, dir, cfg)
          case "postings_terms" => IndexBuild.stagePostings(spark, dir, cfg, stats, grams = false)
          case "postings_grams" => IndexBuild.stagePostings(spark, dir, cfg, stats, grams = true)
          case "dictionary" => IndexBuild.stageDictionary(spark, dir)
        }
      }
      outBytes(st) = Host.written(before, Host.files(dir))
    }
    IndexBuild.build(spark, c.df, dir, cfg) // resumes: only the scratch cleanup is left
    if (buildWalls.isEmpty) { // no untraced build in this run's loop: time one
      val t0 = System.nanoTime()
      IndexBuild.build(spark, c.df, path("probe-index-plain"), cfg)
      buildWalls += (System.nanoTime() - t0) / 1e9
      Host.delete(path("probe-index-plain"))
    }
    tracer.drain()
    var wallSum = 0.0
    Stages.foreach { st =>
      val s = spansOf(s"build.$st").last
      wallSum += s.durNs / 1e9
      put(s"build.$st.wall_s", s.durNs / 1e9, "s")
      put(s"build.$st.cpu_s", s.cpuNs / 1e9, "s")
      put(s"build.$st.gc_s", s.gcMs / 1e3, "s")
      put(s"build.$st.shuffle_write_bytes", s.shuffleWriteBytes.toDouble, "bytes")
      put(s"build.$st.output_bytes", outBytes(st).toDouble, "bytes")
    }
    val staged = Stages.map(st => spansOf(s"build.$st").last)
    put("build.jobs", staged.map(_.jobs).sum.toDouble, "count")
    put("build.tasks", staged.map(_.tasks).sum.toDouble, "count")
    put("build.overlap_saved_s", wallSum - Host.median(buildWalls.toSeq), "s")
    dir
  }

  // ------------------------------------------------------------- query

  private def query(dir: String): Unit = {
    val queries = pool.take(QueryClient.Cells) // one query of every op x class cell
    val scope = mutable.ArrayBuffer.empty[(Long, Int)] // (postings in scope, results)
    val hydrate = mutable.ArrayBuffer.empty[Double]
    val yields = mutable.ArrayBuffer.empty[Double]
    var kernelNs = 0L
    var kernelPostings = 0L
    val search = openSearch(dir)
    val dead = graft.maint.Maintenance.tombstones(spark, dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    def keysOf(q: Inputs.Query): Seq[String] = q.op match {
      case "bm25_or" | "bm25_and" => q.terms.flatMap(Tokenizer.terms).distinct
      case "fuzzy" => Gram.gramsSorted(partial = true, q.terms).map(g => s"g$g").toSeq
      case _ => Gram.gramsSorted(partial = false, q.terms).map(g => s"g$g").toSeq
    }
    // the segments of every probe query's keys, one read per postings table
    val segsOf: Map[Boolean, Map[String, Array[org.apache.spark.sql.Row]]] =
      queries.groupBy(_.op.startsWith("bm25")).map { case (terms, qs) =>
        val table = if (terms) IndexBuild.termPostingsDir(dir) else IndexBuild.gramPostingsDir(dir)
        terms -> spark.read.parquet(table)
          .where(org.apache.spark.sql.functions.col("key").isin(qs.flatMap(keysOf).distinct: _*))
          .select("key", "range_id", "first_doc", "n_docs", "postings").collect().groupBy(_.getString(0))
      }
    queries.foreach { q =>
      val got = probeRec.op(q.op, q.cls)(tracer.span(s"query.${q.op}")(Answer.engine(search, q)))
      val keys = keysOf(q)
      val segs = keys.distinct.flatMap(k => segsOf(q.op.startsWith("bm25")).getOrElse(k, Array.empty)).toArray
      scope += ((segs.map(_.getLong(3)).sum, got.map(_.size).getOrElse(0)))
      q.op match {
        case "bm25_or" | "bm25_and" =>
          val dict = tracer.span("query.dict_lookup")(search.dictLookup(keys))
          val st = search.stats
          val present = keys.sorted.filter(dict.contains)
          if (present.nonEmpty) {
            val t0 = System.nanoTime()
            segs.groupBy(_.getInt(1)).foreach { case (_, rs) =>
              val cursors = present.zipWithIndex.flatMap { case (t, i) =>
                val mine = rs.filter(_.getString(0) == t).sortBy(_.getLong(2))
                if (mine.isEmpty) None
                else Some(new Wand.TermCursor(i, Wand.idf(st.nDocs, dict(t)),
                  mine.map(_.getAs[Array[Byte]](4)), st.k1, st.b))
              }.toArray
              if (q.op == "bm25_or" || cursors.length == present.size)
                Wand.topK(cursors, Oracle.K, q.op == "bm25_and", st.k1, st.b, st.avgdl, dead)
            }
            kernelNs += System.nanoTime() - t0
            kernelPostings += segs.map(_.getLong(3)).sum
          }
        case "search" =>
          val t0 = System.nanoTime()
          val cands = tracer.span("query.search_candidates")(search.candidates(q.terms).collect().length)
          val candMs = (System.nanoTime() - t0) / 1e6
          val last = spansOf("query.search").last
          hydrate += last.durMs - candMs
          if (cands > 0) yields += got.map(_.size).getOrElse(0).toDouble / cands
        case _ =>
      }
    }
    tracer.drain()
    Inputs.Ops.foreach { op =>
      val ss = spansOf(s"query.$op")
      put(s"query.$op.p50_ms", med(ss.map(_.durMs)), "ms")
      put(s"query.$op.jobs", med(ss.map(_.jobs.toDouble)), "count")
      put(s"query.$op.input_bytes", med(ss.map(_.inputBytes.toDouble)), "bytes")
      put(s"query.$op.cpu_ms", med(ss.map(_.cpuNs / 1e6)), "ms")
    }
    val all = tracerSamples.filter(s => Inputs.Ops.contains(s.name))
    put("query.hot.p50_ms", med(all.filter(_.cls == "hot").map(_.wallMs)), "ms")
    put("query.tail.p50_ms", med(all.filter(_.cls == "tail").map(_.wallMs)), "ms")
    put("query.open_ms", med(spansOf("query.open").map(_.durMs)), "ms")
    put("query.dict_lookup_ms", med(spansOf("query.dict_lookup").map(_.durMs)), "ms")
    put("query.hydrate_ms", med(hydrate.toSeq), "ms")
    put("query.verify_yield", med(yields.toSeq), "ratio")
    put("query.postings_in_scope", med(scope.map(_._1.toDouble).toSeq), "count")
    put("query.results_per_mposting",
      med(scope.filter(_._1 > 0).map { case (p, r) => r * 1e6 / p }.toSeq), "1/Mpostings")
    put("query.wand_kernel_ms_per_mposting",
      if (kernelPostings == 0) 0.0 else kernelNs / 1e6 / (kernelPostings / 1e6), "ms/Mpostings")
  }

  /** Client samples of the traced loop and of the probes. */
  private def tracerSamples: Seq[Sample] = (tracedLoop :+ probeRec).flatMap(_.samples)

  // ------------------------------------------------------------- maint

  /** One churn round. Outside `churn`, whose loop has already merged, the
    * auto-merge threshold is lowered to the round's two appends (one update,
    * one chunk add), so the round ends in one segment merge.
    */
  private def maint(dir: String, c: Corpus): Unit = {
    val driver = wl match {
      case w: ChurnWorkload => w.churn
      case _ => new ChurnDriver(ctx, dir, c, c.seed + 1, queriesPerRound = 2,
        cfg.copy(autoMergeSegments = 2), chunksPerRound = 1)
    }
    driver.round(probeRec)
    tracer.drain()
    def medOf(name: String)(f: Span => Double) = med(spansOf(name).map(f))
    put("maint.update.wall_s", medOf("maint.update")(_.durNs / 1e9), "s")
    put("maint.update.cpu_s", medOf("maint.update")(_.cpuNs / 1e9), "s")
    put("maint.update.jobs", medOf("maint.update")(_.jobs.toDouble), "count")
    put("maint.update.shuffle_write_bytes", medOf("maint.update")(_.shuffleWriteBytes.toDouble), "bytes")
    put("maint.update.bytes_written",
      medOf("maint.update")(s => driver.spanWritten.getOrElse(s.id, 0L).toDouble), "bytes")
    put("maint.delete.wall_s", medOf("maint.delete")(_.durNs / 1e9), "s")
    put("maint.delete.jobs", medOf("maint.delete")(_.jobs.toDouble), "count")
    put("maint.flush_dict.wall_s", medOf("maint.flush_dict")(_.durNs / 1e9), "s")
    put("maint.merges", driver.merges.toDouble, "count")
    put("maint.merge_bytes_rewritten", driver.mergeBytesRewritten.toDouble, "bytes")
    put("maint.segments_per_key_range.mean",
      driver.segMeans.sum / math.max(1, driver.segMeans.size), "count")
    put("maint.segments_per_key_range.max", driver.segMax.toDouble, "count")
    put("maint.tombstones", driver.tombstones.toDouble, "count")
  }

  // --------------------------------------------------------------- ops

  private def ops(docs: DataFrame): Unit = {
    import spark.implicits._
    val thr = DedupWorkload.ThresholdPermille
    val pairs = tracer.span("ops.minhashLshPairs") {
      Dedup.minhashLshPairs(docs, thr).select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val clusters = Dedup.dupClusters(pairs.toSeq.toDF("da", "db"))
    tracer.span("ops.dupClusters")(clusters.collect())
    put("ops.dupClusters.plan_nodes", Probes.planNodes(clusters.queryExecution.executedPlan).toDouble, "count")
    tracer.span("ops.nearDedupSurvivors")(Dedup.nearDedupSurvivors(docs, thr).collect())
    tracer.span("ops.dedupLinesKeepFirst")(Dedup.dedupLinesKeepFirst(docs).collect())
    tracer.drain()
    Seq("minhashLshPairs", "dupClusters", "nearDedupSurvivors", "dedupLinesKeepFirst").foreach { fn =>
      val ss = spansOf(s"ops.$fn")
      put(s"ops.$fn.wall_s", med(ss.map(_.durNs / 1e9)), "s")
      put(s"ops.$fn.cpu_s", med(ss.map(_.cpuNs / 1e9)), "s")
      put(s"ops.$fn.shuffle_write_bytes", med(ss.map(_.shuffleWriteBytes.toDouble)), "bytes")
      put(s"ops.$fn.jobs", med(ss.map(_.jobs.toDouble)), "count")
    }
  }
}

object Probes {
  /** Physical plan nodes, counting into adaptive plans, query stages and
    * the plans behind cached relations — the lineage a persisted iterative
    * result drags along.
    */
  def planNodes(p: SparkPlan): Int = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => 1 + planNodes(s.plan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      1 + planNodes(m.relation.cachedPlan)
    case other => 1 + other.children.map(planNodes).sum
  }
}
