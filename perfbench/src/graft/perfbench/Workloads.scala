package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.build.IndexBuild
import graft.maint.Maintenance
import graft.ops.Dedup
import graft.query.Search

/** What every workload shares: the session, the run's arguments, the
  * tracer and the engine configuration.
  */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val tiny: Boolean = args.size == "tiny"
  /** The engine defaults, as `graft.tools.Cli index` builds with. */
  val cfg: IndexBuild.Config = IndexBuild.Config()
  val pool: IndexedSeq[Inputs.Query] = Inputs.queryPool(args.seed, if (tiny) 1 else 2)
  def path(name: String): String = s"${args.scratch}/$name"
  /** Wall seconds of every untraced full `IndexBuild.build` of a timed loop. */
  val buildWalls = mutable.ArrayBuffer.empty[Double]

  /** New Search plus the dictionary, gram-dictionary and tombstone cache
    * fills a CLI session pays on its first query.
    */
  def openSearch(dir: String): Search = tracer.span("query.open") {
    val s = new Search(spark, dir)
    s.nTombstones
    s.dictLookup(Seq("the"))
    s.gramDictLookup(Seq(0))
    s
  }
}

/** A seeded index corpus and the text bytes it holds. */
final case class Corpus(df: DataFrame, n: Long, seed: Long, textBytes: Long)

/** One benchmark workload. `setup` runs several times (fresh directories
  * each time; the last one is kept); `loop` is the timed closed loop and
  * runs until `seconds` of operations have been timed; `check` compares
  * every answer collected in the loop with an independent oracle.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._
  def setup(rep: Int): Unit
  def loop(rec: Recorder, seconds: Double): Unit
  /** One untimed operation before the loop, for the JIT and the caches. */
  def warmUp(rec: Recorder): Unit = loop(rec, 0)
  def check(rec: Recorder): Unit
  /** The workload's own end-to-end figures, by name with their units. */
  def detail(recs: Seq[Recorder]): Seq[(String, Double, String)]

  /** Inputs for the traced run's layer probes. */
  def probeCorpus: Corpus
  def probeIndex: Option[String]
  def probeDedupDocs: DataFrame

  protected def seconds(rec: Recorder, s: Double): Boolean = rec.timedSeconds < s || rec.samples.isEmpty

  protected def writeCorpus(name: String, n: Long): Corpus = tracer.span("setup.corpus") {
    val df = Inputs.writeCorpus(spark, n, args.seed, args.cpus, path(name))
    Corpus(df, n, args.seed, Inputs.textBytes(df))
  }

  protected def buildIndex(c: Corpus, dir: String): IndexBuild.BuildStats =
    tracer.span("build.build")(IndexBuild.build(spark, c.df, dir, cfg))

  protected def smallDedupDocs(): DataFrame = {
    val (docs, _) = Inputs.dedupDocs(if (tiny) 120 else 200, args.seed, 8)
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  /** Query-mix answers recorded in the loop, checked after it. */
  protected val answers = mutable.ArrayBuffer.empty[(Inputs.Query, Vector[String])]

  protected def checkAnswers(rec: Recorder, dir: String): Unit = {
    val oracle = tracer.span("oracle")(new Oracle(spark, dir))
    val expected = mutable.HashMap.empty[String, Vector[String]]
    answers.foreach { case (q, got) =>
      val exp = expected.getOrElseUpdate(q.key, oracle.answer(q))
      if (exp != got) rec.wrong(Answer.mismatch(q, got, exp))
    }
    answers.clear()
  }

  protected def queryDetail(recs: Seq[Recorder]): Seq[(String, Double, String)] = {
    val qs = recs.flatMap(_.samples).filter(s => Inputs.Ops.contains(s.name))
    val w = qs.map(_.wallMs)
    Seq(("query_p50_ms", Host.median(w), "ms"), ("query_p90_ms", Host.pct(w, 90), "ms"),
      ("queries_per_s", w.size / (w.sum / 1000), "1/s"),
      ("query_cpu_ms", qs.map(_.cpuMs).sum / qs.size, "ms"),
      ("queries", w.size.toDouble, "count"))
  }
}

/** Issues the seeded query mix against one index, reopening the Search every
  * `ReopenEvery` queries the way successive CLI sessions do.
  */
final class QueryClient(ctx: Ctx, dir: String) {
  private var search: Search = null
  private var sinceOpen = 0

  def reopen(): Unit = search = null

  /** The op x class cells in turn: op `i % 5` with class `i % 3`, so
    * consecutive queries differ in both and `Cells` turns cover every cell.
    */
  private val cells = (0 until QueryClient.Cells).map { i =>
    val (op, cls) = (Inputs.Ops(i % Inputs.Ops.size), Inputs.Classes(i % Inputs.Classes.size))
    ctx.pool.filter(q => q.op == op && q.cls == cls)
  }
  private var issued = 0

  /** Start again from the first cell and the first query of each cell. */
  def restart(): Unit = issued = 0

  /** True until the queries issued since `restart` make whole passes over
    * the pool, one cycle over the cells per query of a cell.
    */
  def midPass: Boolean = issued % (cells.size * cells.map(_.size).max) != 0

  /** The cells take turns, and cycle `c` issues the `c`-th query of each
    * cell, so consecutive cycles go through the whole pool and every whole
    * pass issues the same queries.
    */
  def next(rec: Recorder, out: mutable.Buffer[(Inputs.Query, Vector[String])]): Unit = {
    val qs = cells(issued % cells.size)
    val q = qs((issued / cells.size) % qs.size)
    issued += 1
    rec.op(q.op, q.cls) {
      if (search == null || sinceOpen >= QueryClient.ReopenEvery) {
        search = ctx.openSearch(dir)
        sinceOpen = 0
      }
      sinceOpen += 1
      ctx.tracer.span(s"query.${q.op}")(Answer.engine(search, q))
    }.foreach(a => out += ((q, a)))
  }
}

object QueryClient {
  final val ReopenEvery = 20
  final val Cells: Int = Inputs.Ops.size * Inputs.Classes.size
}

// ------------------------------------------------------------------ build

final class BuildWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val n = if (tiny) 300L else 8000L
  private var corpus: Corpus = _
  private var lastIndex: String = _
  private var builds = 0
  private var indexBytes = 0L

  def setup(rep: Int): Unit = corpus = writeCorpus(s"corpus-$rep", n)

  /** A build of an eighth of the corpus: the same code as a full build. */
  override def warmUp(rec: Recorder): Unit = {
    val dir = path("index-warmup")
    rec.op("build")(IndexBuild.build(spark, corpus.df.limit((n / 8).toInt), dir, cfg))
    Host.delete(dir)
  }

  def loop(rec: Recorder, s: Double): Unit = while (seconds(rec, s)) {
    val dir = path(s"index-$builds")
    builds += 1
    val ok = rec.op("build") {
      val st = buildIndex(corpus, dir)
      require(st.nDocs > 0, "empty build")
    }
    if (ok.isDefined) {
      if (!tracer.enabled) buildWalls += rec.samples.last.wallMs / 1000
      if (lastIndex != null) Host.delete(lastIndex)
      lastIndex = dir
      indexBytes = Host.bytes(dir)
    } else Host.delete(dir)
  }

  /** The last build answers one pool query of each op like the oracle does. */
  def check(rec: Recorder): Unit = if (lastIndex != null) {
    val oracle = new Oracle(spark, lastIndex)
    val search = new Search(spark, lastIndex)
    rec.check(oracle.nLive > 0, "built index holds no chunks")
    Inputs.Ops.flatMap(op => pool.find(_.op == op))
      .foreach(q => rec.check(Answer.engine(search, q) == oracle.answer(q), q.key))
  }

  def detail(recs: Seq[Recorder]): Seq[(String, Double, String)] = {
    val b = recs.flatMap(_.samples).filter(_.name == "build")
    Seq(("build_pages_per_s", n / (Host.median(b.map(_.wallMs)) / 1000), "pages/s"),
      ("build_cpu_s", Host.median(b.map(_.cpuMs)) / 1000, "s"),
      ("index_bytes_per_text_byte", indexBytes.toDouble / corpus.textBytes, "ratio"),
      ("builds", b.size.toDouble, "count"))
  }

  def probeCorpus: Corpus = corpus
  def probeIndex: Option[String] = Option(lastIndex)
  def probeDedupDocs: DataFrame = smallDedupDocs()
}

// ------------------------------------------------------------------ query

final class QueryWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val n = if (tiny) 300L else 1000L
  private var corpus: Corpus = _
  private var dir: String = _
  private lazy val client = new QueryClient(ctx, dir)

  def setup(rep: Int): Unit = {
    if (dir != null) Host.delete(dir)
    corpus = writeCorpus(s"corpus-$rep", n)
    dir = path(s"index-$rep")
    buildIndex(corpus, dir)
  }

  /** Whole passes over the query pool until `s` seconds are timed. */
  def loop(rec: Recorder, s: Double): Unit = {
    client.restart()
    while (seconds(rec, s) || (s > 0 && client.midPass)) client.next(rec, answers)
  }

  def check(rec: Recorder): Unit = checkAnswers(rec, dir)

  def detail(recs: Seq[Recorder]): Seq[(String, Double, String)] = queryDetail(recs)

  def probeCorpus: Corpus = corpus
  def probeIndex: Option[String] = Some(dir)
  def probeDedupDocs: DataFrame = smallDedupDocs()
}

// ------------------------------------------------------------------ churn

/** Seeded write rounds against one index, with the query mix between them.
  * Each round's answers are checked against the index state they were
  * issued on, with the clock stopped; the round's file writes, merges and
  * segment layout are read from outside, from the index directory.
  */
final class ChurnDriver(ctx: Ctx, val dir: String, corpus: Corpus, seed: Long,
                        queriesPerRound: Int, writeCfg: IndexBuild.Config,
                        chunksPerRound: Int = 3) {
  import ctx._
  private val gen = new Inputs.Churn(corpus.n, corpus.seed, seed,
    batch = if (tiny) 6 else 20, nDelete = if (tiny) 2 else 5, nChunks = chunksPerRound)
  private val client = new QueryClient(ctx, dir)
  private val answers = mutable.ArrayBuffer.empty[(Inputs.Query, Vector[String])]
  var deltaBytes = 0L
  var writtenBytes = 0L
  var mergeBytesRewritten = 0L
  val segMeans = mutable.ArrayBuffer.empty[Double]
  var segMax = 0L
  var tombstones = 0

  def merges: Int = {
    val p = java.nio.file.Paths.get(dir, "manifest.jsonl")
    if (!java.nio.file.Files.exists(p)) 0
    else java.nio.file.Files.readAllLines(p).asScala.count(_.contains("\"stage\":\"seg_merge\""))
  }

  private def write(rec: Recorder, name: String)(f: => Unit): Unit = {
    val before = Host.files(dir)
    val merges0 = merges
    rec.op(name, "write")(tracer.span(s"maint.$name")(f))
    val after = Host.files(dir)
    val w = Host.written(before, after)
    writtenBytes += w
    tracer.spans.lastOption.filter(_.name == s"maint.$name").foreach(s => spanWritten(s.id) = w)
    if (merges > merges0)
      mergeBytesRewritten += before.iterator.collect {
        case (p, (size, _)) if p.startsWith("postings_") && !after.contains(p) => size
      }.sum
  }

  /** Bytes written per maint span id (traced runs). */
  val spanWritten = mutable.HashMap.empty[Long, Long]

  def round(rec: Recorder): Unit = {
    import spark.implicits._
    val r = gen.next()
    deltaBytes += r.deltaBytes
    write(rec, "update") {
      Maintenance.update(spark, dir, r.update.toDS().toDF(), writeCfg, partialSnapshot = true)
    }
    write(rec, "delete")(Maintenance.delete(spark, dir, r.deletes))
    r.chunks.foreach { case (url, data, grams) =>
      write(rec, "add_chunk") {
        Maintenance.addChunk(spark, dir, url, data, grams.toSeq, r.ts, writeCfg, mergeDict = false)
      }
    }
    write(rec, "flush_dict")(Maintenance.flushDict(spark, dir))
    client.reopen()
    (0 until queriesPerRound).foreach(_ => client.next(rec, answers))
    // clock stopped: answers against this state, then the layout read-outs
    tracer.span("oracle") {
      val oracle = new Oracle(spark, dir)
      answers.foreach { case (q, got) =>
        val exp = oracle.answer(q)
        if (exp != got) rec.wrong(Answer.mismatch(q, got, exp))
      }
      answers.clear()
      tombstones = oracle.nTombstones
      val counts = Seq(IndexBuild.termPostingsDir(dir), IndexBuild.gramPostingsDir(dir)).flatMap { p =>
        spark.read.parquet(p).groupBy("key", "range_id").count().select("count").collect()
          .map(_.getLong(0))
      }
      segMeans += counts.sum.toDouble / counts.size
      segMax = math.max(segMax, counts.max)
    }
  }
}

final class ChurnWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val n = if (tiny) 200L else 2000L
  private var corpus: Corpus = _
  private var driver: ChurnDriver = _
  private val MaxLoopSeconds = 100.0

  def setup(rep: Int): Unit = {
    if (driver != null) Host.delete(driver.dir)
    corpus = writeCorpus(s"corpus-$rep", n)
    val dir = path(s"index-$rep")
    buildIndex(corpus, dir)
    // tiny (the smoke test): one chunk add per round and a threshold of the
    // round's two appends, so every round merges and two rounds are enough
    driver = if (tiny) new ChurnDriver(ctx, dir, corpus, args.seed, 6, cfg.copy(autoMergeSegments = 2),
      chunksPerRound = 1)
    else new ChurnDriver(ctx, dir, corpus, args.seed, 12, cfg)
  }

  /** Rounds until `s` seconds are timed and auto-merge has fired twice. */
  def loop(rec: Recorder, s: Double): Unit = {
    val t0 = System.nanoTime()
    while ((seconds(rec, s) || (s > 0 && driver.merges < 2)) &&
      (System.nanoTime() - t0) / 1e9 < MaxLoopSeconds) driver.round(rec)
  }

  def check(rec: Recorder): Unit = rec.check(driver.merges >= 2, "auto-merge fired fewer than twice")

  def detail(recs: Seq[Recorder]): Seq[(String, Double, String)] = {
    val all = recs.flatMap(_.samples)
    def p(name: String, q: Double) = Host.pct(all.filter(_.name == name).map(_.wallMs / 1000), q)
    queryDetail(recs) ++ Seq(
      ("update_p50_s", p("update", 50), "s"), ("delete_p50_s", p("delete", 50), "s"),
      ("write_bytes_per_delta_byte", driver.writtenBytes.toDouble / driver.deltaBytes, "ratio"),
      ("maint_p90_s", Host.pct(all.filter(_.cls == "write").map(_.wallMs / 1000), 90), "s"),
      ("index_bytes_per_text_byte",
        Host.bytes(driver.dir).toDouble / (corpus.textBytes + driver.deltaBytes), "ratio"),
      ("merges", driver.merges.toDouble, "count"))
  }

  def churn: ChurnDriver = driver
  def probeCorpus: Corpus = corpus
  def probeIndex: Option[String] = Some(driver.dir)
  def probeDedupDocs: DataFrame = smallDedupDocs()
}

// ------------------------------------------------------------------ dedup

final class DedupWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val n = if (tiny) 200 else 1500
  private var docs: DataFrame = _
  private var rows: IndexedSeq[(Long, String)] = _
  private var clusters: Seq[Seq[Long]] = _
  private val outputs = mutable.ArrayBuffer.empty[(Vector[Long], Vector[(Long, String)])]

  def setup(rep: Int): Unit = tracer.span("setup.docs") {
    import spark.implicits._
    val (r, c) = Inputs.dedupDocs(n, args.seed, if (tiny) 8 else 40)
    rows = r
    clusters = c
    r.toDF("doc_id", "text").repartition(args.cpus).write.mode("overwrite").parquet(path(s"docs-$rep"))
    docs = spark.read.parquet(path(s"docs-$rep"))
  }

  def loop(rec: Recorder, s: Double): Unit = while (seconds(rec, s)) {
    rec.op("dedup") {
      val surv = tracer.span("ops.nearDedupSurvivors") {
        Dedup.nearDedupSurvivors(docs, DedupWorkload.ThresholdPermille).collect()
          .map(_.getLong(0)).toVector
      }
      val lines = tracer.span("ops.dedupLinesKeepFirst") {
        Dedup.dedupLinesKeepFirst(docs).collect().map(r => (r.getLong(0), r.getString(1))).toVector
      }
      (surv, lines)
    }.foreach(outputs += _)
  }

  /** Survivors against the exact-Jaccard closure and the planted clusters;
    * kept lines against a driver-side keep-first scan.
    */
  def check(rec: Recorder): Unit = {
    val survivors = tracer.span("oracle") {
      Oracle.nearDedupSurvivors(docs, rows.map(_._1), DedupWorkload.ThresholdPermille)
    }
    val lines = Oracle.dedupLines(rows)
    val kept = survivors.toSet
    rec.check(clusters.forall(c => kept(c.min) && c.filterNot(_ == c.min).forall(d => !kept(d))),
      "a planted clone survived near-dedup")
    outputs.foreach { case (s, l) =>
      if (s != survivors) rec.wrong(s"nearDedupSurvivors: ${s.size} survivors, expected ${survivors.size}")
      if (l != lines) rec.wrong("dedupLinesKeepFirst output differs from keep-first lines")
    }
    outputs.clear()
  }

  def detail(recs: Seq[Recorder]): Seq[(String, Double, String)] = {
    val d = recs.flatMap(_.samples).filter(_.name == "dedup")
    Seq(("dedup_docs_per_s", rows.size / (Host.median(d.map(_.wallMs)) / 1000), "docs/s"),
      ("dedup_passes", d.size.toDouble, "count"))
  }

  def probeCorpus: Corpus = writeCorpus("probe-corpus", if (tiny) 200L else 1000L)
  def probeIndex: Option[String] = None
  def probeDedupDocs: DataFrame = docs
}

object DedupWorkload {
  final val ThresholdPermille = 900
}
