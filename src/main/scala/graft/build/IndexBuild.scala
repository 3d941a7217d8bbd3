package graft.build

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Chunker, Gram, Postings, Tokenizer}
import java.sql.Timestamp

/** Distributed inverted-index build: web docs table -> chunked + tokenized
  * chunk store -> stable dense doc ids -> term/gram posting segments
  * (delta+varint blocks with block-max metadata) -> dictionary + doc stats,
  * with a per-partition lineage manifest so a killed job resumes without
  * re-tokenizing completed partitions.
  *
  * This is the Spark-native rebuild of the reference's `input` path
  * (reference: cmdInput fts-lmdb.go:509-531, indexLines 578-603,
  * addGramEntry 628-637): one shuffle takes tokenized postings to
  * term-ordered partitions; hot-term skew is defused because the
  * repartition-and-sort key ends in doc_id — a hot term's postings are
  * *range-salted* across partitions as contiguous doc-id shards, which stay
  * splice-mergeable ([[graft.core.Postings.spliceShards]]) because blocks
  * are self-contained. `range_id` (fixed-size doc-id ranges) additionally
  * aligns every term's shards on the same boundaries so BM25/WAND can run
  * doc-partitioned at query time.
  *
  * Stage layout under `indexDir/`:
  *   chunks/        partitioned by docpart (resume unit; tokenization lives
  *                  here, checkpointed — resume never re-tokenizes)
  *   docs/          chunk rows + dense stable doc_id, range-sorted by doc_id
  *   postings_terms/ bucket=N/ (term, range_id, first/last doc, stats, bytes)
  *   postings_grams/ bucket=N/ (gram, ...) — trigram candidate index
  *   dictionary/    (term, df, cf, max_tf);  gram_dict/ (gram, df)
  *   docstats.json  n_docs, sum_dl, avgdl, range_size, build params
  *   manifest.jsonl per-unit lineage + metrics
  */
object IndexBuild {

  /** Chunking mode (reference input modes: lines = indexLines
    * fts-lmdb.go:578-603, org = indexOrg 546-576 via the -org flag; doc =
    * whole text as one chunk, for term-level corpora).
    */
  object ChunkMode {
    final val Lines = "lines"
    final val Doc = "doc"
    final val Org = "org"
    val All: Set[String] = Set(Lines, Doc, Org)
  }

  final case class Config(
    nBuckets: Int = 8,          // term-hash write partitions (cluster: 100s)
    nRanges: Int = 8,           // doc-id range shards = the salt (cluster: 1000s)
    docParts: Int = 8,          // chunk-stage resume units
    shufflePartitions: Int = 32,
    blockSize: Int = 128,
    k1: Double = 1.2,
    b: Double = 0.75,
    chunkMode: String = ChunkMode.Lines,
    /** Max distinct urls for which the doc-id base map is broadcast; above
      * it the id stamp falls back to a shuffle join (at 10^12 docs a
      * billions-row broadcast would OOM the executors; in production that
      * join runs storage-partitioned on the hash(url) bucketing both sides
      * already share, with no big-side shuffle).
      */
    broadcastUrlLimit: Long = 2000000L,
    /** Parquet scan split size for the build's map-only stages (id stamp,
      * posting explode). These stages' parallelism equals their scan split
      * count, so Spark's 128 MB default caps them below the core count on
      * mid-size inputs — 32 MB keeps every level saturated (the ids stage
      * measured 2.2x from 4->16 cores under the default, 128 MB / 14 splits).
      */
    maxPartitionBytes: Long = 32L * 1024 * 1024,
    /** Auto segment-merge threshold for incremental maintenance: when this
      * many posting appends (updates + chunk adds) have accumulated since
      * the last merge, [[graft.maint.Maintenance.mergeSegments]] splices
      * multi-segment (key, range_id) groups so query cursor fan-in stays
      * bounded. 0 disables (manual `merge-segments` only).
      */
    autoMergeSegments: Int = 8,
    /** When > 0, the doc-range count is derived as ceil(nDocs / this)
      * instead of taken from `nRanges` — per-range kernel work and
      * query-time range size stay CONSTANT as the corpus grows (more
      * ranges = more parallelism), which is the 100 TB default: a fixed
      * range count means every range, and every per-range posting walk,
      * grows linearly with the corpus. `nRanges` is the floor/fallback.
      */
    targetRangeDocs: Long = 0L) {
    require(ChunkMode.All(chunkMode), s"unknown chunkMode: $chunkMode")
  }

  final case class TermFreq(t: String, f: Int)

  /** `explicit_grams` is null for tokenizer-derived chunks (their grams are
    * deterministic functions of the text, never stored past the build) and
    * set for caller-supplied-gram chunks (the reference `chunk` command,
    * [[graft.maint.Maintenance.addChunk]]) — those grams are data, so they
    * persist in the docs store and survive compaction.
    */
  final case class ChunkRow(
    url: String, warc_ts: Timestamp, lang: String, docpart: Int,
    chunk_seq: Int, line: Int, rune_off: Long, rune_len: Long,
    byte_start: Long, byte_len: Long, dl: Int, n_grams: Int,
    chunk_text: String, terms: Array[TermFreq], grams: Array[Int],
    explicit_grams: Array[Int] = null)

  /** Engine stats + build params. `nextDocId` is the monotone id
    * high-water mark (reference nextOID, fts-lmdb.go:855-867): incremental
    * updates allocate fresh ids from here; compact/rebuild re-densifies.
    * avgdl/k1/b/rangeSize are FROZEN between compacts — posting block-max
    * bounds were computed with them, so queries must score with the same
    * values (reference analog: stats stale until compact).
    */
  /** `chunkMode` is persisted so maintenance re-chunks changed documents
    * with the SAME chunker the index was built with (the reference
    * remembers each group's org flag, fts-lmdb.go:997-1006).
    * `docParts == 0` means UNKNOWN (a docstats.json written before the
    * field existed) — consumers must fall back to unpruned scans, never
    * guess: pruning with a wrong modulus silently matches nothing.
    */
  final case class DocStats(nDocs: Long, sumDl: Long, avgdl: Double,
                            rangeSize: Long, nBuckets: Int, nRanges: Int,
                            k1: Double, b: Double, watermark: String,
                            nextDocId: Long, docParts: Int = 0,
                            chunkMode: String = ChunkMode.Lines)

  final case class BuildStats(nDocs: Long, nChunkParts: Int, nTermBuckets: Int,
                              nGramBuckets: Int, resumedChunks: Int,
                              resumedTermBuckets: Int)

  def chunksDir(dir: String) = s"$dir/chunks"
  def docsDir(dir: String) = s"$dir/docs"
  def termPostingsDir(dir: String) = s"$dir/postings_terms"
  def gramPostingsDir(dir: String) = s"$dir/postings_grams"
  def dictDir(dir: String) = s"$dir/dictionary"
  def gramDictDir(dir: String) = s"$dir/gram_dict"

  /** Mode dispatch shared by [[chunkDoc]] and [[chunkDocMeta]] — one place
    * decides what a "chunk" is.
    */
  private def chunksOf(text: String, chunkMode: String): IndexedSeq[graft.core.Chunk] =
    chunkMode match {
      case ChunkMode.Lines => Chunker.linesLenient(text)
      case ChunkMode.Org => graft.core.OrgChunker.chunks(text)
      case _ => IndexedSeq(graft.core.Chunk(1, 0L,
        text.codePointCount(0, text.length).toLong,
        0L, text.getBytes("UTF-8").length.toLong, text))
    }

  /** Chunk + tokenize one document — the only place raw text is processed. */
  def chunkDoc(url: String, warcTs: Timestamp, lang: String, docpart: Int,
               text: String, chunkMode: String): Seq[ChunkRow] = {
    chunksOf(text, chunkMode).zipWithIndex.map { case (c, seq) =>
      val tfs = Tokenizer.termFreqs(c.text).map { case (t, f) => TermFreq(t, f) }
      val dl = { var s = 0; tfs.foreach(s += _.f); s }
      val grams = Gram.gramsSorted(partial = false, Seq(c.text))
      ChunkRow(url, warcTs, lang, docpart, seq, c.line, c.runeOff, c.runeLen,
        c.byteStart, c.byteLen, dl, grams.length, c.text, tfs, grams)
    }
  }

  /** Chunk-store row WITHOUT token arrays — the build scratch / docs-store
    * schema (minus doc_id). Terms and grams are deterministic functions of
    * `chunk_text`, re-derived where consumed (posting stages); serializing
    * them would double the scratch footprint and force the posting stages
    * through a scratch⋈url-base join instead of the id-stamped docs store.
    */
  final case class ChunkMeta(
    url: String, warc_ts: Timestamp, lang: String, docpart: Int,
    chunk_seq: Int, line: Int, rune_off: Long, rune_len: Long,
    byte_start: Long, byte_len: Long, dl: Int, n_grams: Int,
    chunk_text: String, explicit_grams: Array[Int] = null)

  /** Chunk one document for the build scratch: dl/n_grams are computed
    * (tokenization runs) but the arrays are not carried — `docLength` is an
    * allocation-free run count and `gramCount` a bitset count (no term
    * strings, no gram array: this stage only needs the NUMBERS; the full
    * arrays are re-derived where consumed, in the posting stages).
    */
  def chunkDocMeta(url: String, warcTs: Timestamp, lang: String, docpart: Int,
                   text: String, chunkMode: String): Seq[ChunkMeta] = {
    chunksOf(text, chunkMode).zipWithIndex.map { case (c, seq) =>
      ChunkMeta(url, warcTs, lang, docpart, seq, c.line, c.runeOff, c.runeLen,
        c.byteStart, c.byteLen, Tokenizer.docLength(c.text),
        Gram.gramCount(partial = false, Seq(c.text)), c.text)
    }
  }

  /** Run independent driver-side jobs concurrently (optimization guide
    * §2.6: Spark's scheduler happily runs several jobs at once; actions are
    * only sequential because driver code calls them sequentially — the
    * second job's tasks back-fill executors freed by the first job's tail).
    * Exceptions from any branch propagate; all branches are joined before
    * returning either way, so crash/resume semantics per branch are
    * unchanged (each stage still commits its own manifest entry after its
    * own job completes).
    */
  private[graft] def inParallel(fs: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = fs.tail.map { f =>
      val t = new Thread(() => try f() catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    try fs.head() catch { case e: Throwable => errs.add(e) }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  def build(spark: SparkSession, docs: DataFrame, dir: String,
            cfg: Config = Config()): BuildStats = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", cfg.maxPartitionBytes.toString)
    val resumedChunks = stageChunks(spark, docs, dir, cfg)
    val stats = stageIds(spark, dir, cfg)
    // the scratch is consumed the moment the id-stamped docs store commits
    // — dropping it HERE (not at the end) halves the build's peak storage;
    // the posting stages read the docs store (doc ids already stamped, no
    // url-base join) and re-derive token arrays from chunk text
    stageCleanup(spark, dir)
    // term + gram posting builds are independent (separate scans, separate
    // shuffles, separate output dirs, separate manifest stages) — OVERLAP
    // them so each one's kernel-stage stragglers back-fill with the other's
    // tasks instead of idling the cluster (guide §2.6). Trade-off at scale:
    // both families' shuffles are in flight at once (2x transient shuffle
    // disk); kernel memory bounds are per-task and unchanged.
    var resumedTerm = 0
    inParallel(
      () => resumedTerm = stagePostings(spark, dir, cfg, stats, grams = false),
      () => stagePostings(spark, dir, cfg, stats, grams = true))
    stageDictionary(spark, dir)
    BuildStats(stats.nDocs, cfg.docParts, cfg.nBuckets, cfg.nBuckets,
      resumedChunks, resumedTerm)
  }

  /** Drop the build scratch (pre-id chunk store) once the docs store has
    * committed. The docs store keeps the same rows (chunk metadata + text,
    * docpart-partitioned) plus doc_id; token arrays are deterministic
    * functions of the text and are never stored at all — the reference's
    * index is ~2x raw text (README.org:2-4) and ours meets that only
    * without duplicate copies of the corpus. Resume is unaffected: every
    * stage after `ids` reads the docs store.
    */
  private def stageCleanup(spark: SparkSession, dir: String): Unit = {
    if (Manifest.completed(dir, "cleanup")("all")) return
    val t0 = System.nanoTime()
    // quiet: a crash between the delete and the manifest append leaves the
    // dir already gone on the resumed run
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(chunksDir(dir)))
    Manifest.append(dir, Manifest.Entry("cleanup", "all", 0L, 0L, "",
      (System.nanoTime() - t0) / 1000000))
  }

  /** Stage 1 — chunk + tokenize, partitioned by docpart = hash(url).
    * Resume unit: docpart. Completed parts are never re-read/re-tokenized.
    */
  private[graft] def stageChunks(spark: SparkSession, docs: DataFrame, dir: String,
                          cfg: Config): Int = {
    import spark.implicits._
    val done = Manifest.completed(dir, "chunks")
    val missing = (0 until cfg.docParts).filterNot(p => done(p.toString))
    if (missing.isEmpty) return cfg.docParts
    val t0 = System.nanoTime()
    val src = docs
      .withColumn("docpart", pmod(xxhash64(col("url")), lit(cfg.docParts)).cast("int"))
      .where(col("docpart").isin(missing: _*))
      .select($"url", $"warc_ts", $"lang", $"text", $"docpart")
      .as[(String, Timestamp, String, String, Int)]
    // NO shuffle here: tokenizing in-place off the source scan avoids moving
    // raw text across the wire (at 100TB that shuffle would dominate the
    // build). Each scan task writes to the docpart dirs it encounters —
    // more, smaller files, which Iceberg/bin-packing compacts in production.
    val chunked = src.flatMap { case (url, ts, lang, text, part) =>
      chunkDocMeta(url, ts, lang, part, text, cfg.chunkMode)
    }
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    chunked.toDF()
      .write.mode("overwrite").partitionBy("docpart").parquet(chunksDir(dir))
    val wallMs = (System.nanoTime() - t0) / 1000000
    // per-unit row counts + per-PART watermarks in one small scan of the
    // fresh chunk store (count is footer metadata; max(warc_ts) reads one
    // tiny column). Each docpart's manifest entry records its own true max
    // — the manifest is the durable audit record, and a batch-global max
    // would overstate parts whose real watermark is lower.
    val stats = spark.read.parquet(chunksDir(dir))
      .where(col("docpart").isin(missing: _*))
      .groupBy("docpart").agg(count(lit(1)).as("rows"),
        max($"warc_ts").cast("string").as("wm"))
      .collect()
    val byPart = stats.map(r =>
      r.getInt(0) -> (r.getLong(1), if (r.isNullAt(2)) "" else r.getString(2))).toMap
    missing.foreach { p =>
      val (rows, wm) = byPart.getOrElse(p, (0L, ""))
      val bytes = dirBytes(s"${chunksDir(dir)}/docpart=$p")
      Manifest.append(dir, Manifest.Entry("chunks", p.toString, rows, bytes,
        wm, wallMs / missing.size))
    }
    done.size
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.isDirectory) 0L
    else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
  }

  /** Stage 2 — stable dense doc ids: global rank in (url, chunk_seq) order,
    * computed as a distributed prefix sum over per-url chunk counts
    * (doc_id = base(url) + chunk_seq; chunk_seq is dense 0..n-1 per url, so
    * this equals the global rank). Deterministic and independent of
    * partition count (reference analog: monotone OID allocation,
    * fts-lmdb.go:855-867, made reproducible per SURVEY §2.6 M6).
    *
    * Below the broadcast gate only the tiny (url, count) pairs shuffle;
    * the heavy chunk rows (text) are id-stamped map-side and written
    * straight back out — at the 10^12-doc target the docs write is
    * embarrassingly parallel. Above the gate see the shuffle-hash note in
    * [[assignIds]]; in production the same join runs as an Iceberg
    * storage-partitioned join on the shared hash(url) bucketing with no
    * big-side shuffle either.
    */
  /** Stamp dense, deterministic doc ids `base + rank(url, chunk_seq)` onto
    * chunk rows via a distributed prefix sum: only tiny (url, count) pairs
    * shuffle; the heavy chunk rows are id-stamped map-side. Returns the
    * stamped frame and a cleanup thunk — call it after the action that
    * consumes the frame (the cached prefix-sum RDD is re-evaluated by that
    * action).
    */
  private[graft] def assignIds(spark: SparkSession, chunks: DataFrame,
                               base: Long, cfg: Config): (DataFrame, () => Unit) = {
    import spark.implicits._
    // NOTE: repartitionByRange's sampling pass evaluates the aggregate
    // twice; persisting it first was measured SLOWER (cache
    // materialization of the (url,cnt) rows costs more than the repeated
    // url-column scan, which parquet column pruning keeps tiny)
    val perUrl = chunks.groupBy($"url").agg(count(lit(1)).as("cnt"))
      .repartitionByRange(cfg.shufflePartitions, $"url")
      .sortWithinPartitions($"url")
      .as[(String, Long)]
      .rdd.cache()
    // per-partition (chunk total, url count) to the driver — two longs per
    // partition — then cumulative offsets back out
    val partStats = perUrl
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; var u = 0L; it.foreach { r => s += r._2; u += 1 }
        Iterator((i, s, u))
      }
      .collect().sortBy(_._1)
    val nUrls = partStats.map(_._3).sum
    val offsets = partStats.map(_._2).scanLeft(base)(_ + _)
    val urlBase = spark.createDataset(perUrl.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { case (u, c) => val b = acc; acc += c; (u, b) }
    }).toDF("url", "base")
    // size-gated broadcast: one row per url — billions at the 10^12-doc
    // target, where a broadcast would OOM; above the gate the join runs as
    // a SHUFFLE-HASH join (hash map built from the tiny url->base side
    // only; the heavy chunk rows shuffle but are never sorted for the
    // join — a sort-merge join would sort gigabytes of chunk text by url
    // just to discard that order at the write). In production the same
    // join runs storage-partitioned on the shared hash(url) bucketing
    // with no big-side shuffle at all.
    //
    // Either way the rows reach the writer sorted by (docpart, url,
    // chunk_seq): docpart leads so the partitioned docs write needs no
    // extra sort of its own, and url-order implies doc_id-ascending
    // output files (base is allocated in url rank order) — parquet
    // row-group min/max stats prune doc_id point lookups.
    val withIds =
      if (nUrls <= cfg.broadcastUrlLimit)
        chunks // map-only id stamp: chunk rows never shuffle
          .sortWithinPartitions($"docpart", $"url", $"chunk_seq")
          .join(broadcast(urlBase), Seq("url"))
          .withColumn("doc_id", $"base" + $"chunk_seq")
          .drop("base")
      else
        chunks
          .join(urlBase.hint("SHUFFLE_HASH"), Seq("url"))
          .withColumn("doc_id", $"base" + $"chunk_seq")
          .drop("base")
          .sortWithinPartitions($"docpart", $"url", $"chunk_seq")
    (withIds, () => { perUrl.unpersist(blocking = false); () })
  }

  private[graft] def stageIds(spark: SparkSession, dir: String, cfg: Config): DocStats = {
    import spark.implicits._
    if (Manifest.completed(dir, "ids")("all")) return readDocStats(dir)
    val t0 = System.nanoTime()
    val chunks = spark.read.parquet(chunksDir(dir))
    val (withIds, cleanup) = assignIds(spark, chunks, 0L, cfg)
    // doc stats ride along with the write (Observation): no extra pass.
    // docpart partitioning makes the docs store the maintenance diff
    // source (partition-pruned changelog updates) — the chunk scratch is
    // dropped right after this stage commits (stageCleanup).
    val obs = org.apache.spark.sql.Observation()
    withIds
      .observe(obs, count(lit(1)).as("n"),
        sum($"dl".cast("long")).as("sum_dl"),
        max($"warc_ts").cast("string").as("wm"))
      .write.mode("overwrite").partitionBy("docpart").parquet(docsDir(dir))
    cleanup()
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val sumDl = Option(m("sum_dl")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val wm = Option(m("wm")).map(_.toString).getOrElse("")
    val nDocs = n
    val nRangesEff =
      if (cfg.targetRangeDocs > 0)
        math.max(1L, (nDocs + cfg.targetRangeDocs - 1) / cfg.targetRangeDocs).toInt
      else cfg.nRanges
    val rangeSize = math.max(1L, (nDocs + nRangesEff - 1) / nRangesEff)
    val stats = DocStats(nDocs, sumDl, if (n == 0) 1.0 else sumDl.toDouble / n,
      rangeSize, cfg.nBuckets, nRangesEff, cfg.k1, cfg.b, wm, nextDocId = nDocs,
      docParts = cfg.docParts, chunkMode = cfg.chunkMode)
    writeDocStats(dir, stats)
    Manifest.append(dir, Manifest.Entry("ids", "all", n, 0L, wm,
      (System.nanoTime() - t0) / 1000000))
    stats
  }

  final case class Posting(key: String, bucket: Int, range_id: Int,
                           doc_id: Long, tf: Int, dl: Long)
  /** Gram-path posting: int key, no tf/dl payload. The gram index only ever
    * answers membership/intersection (candidates, fuzzy overlap) — never
    * BM25 — so the shuffled row is 20 bytes of primitives instead of an
    * allocated "g12345" string plus dead tf/dl columns. At web scale the
    * gram explode is the single largest shuffle in the build (~50-130 grams
    * per chunk); this halves its bytes and removes per-row allocation.
    */
  final case class GramPosting(bucket: Int, gkey: Int, range_id: Int,
                               doc_id: Long)
  /** One chunk's terms that hash to one bucket — the transposed-term-build
    * shuffle row (doc_id/dl travel once per slice, not once per posting).
    * Terms ride as ONE array<struct<t,f>>: a parallel-arrays layout
    * (Array[String] + Array[Int]) was tried this round and REVERTED — with
    * nBuckets sized to the vocabulary, slices carry ~1-2 terms at any
    * scale, and two array headers per slice measurably outweigh the
    * struct codec's per-element cost (shuffle bytes grew 0.17 → 0.21 GB at
    * the bench corpus; shuffle-byte counters are exact, not host noise).
    */
  final case class TermSlice(bucket: Int, range_id: Int, doc_id: Long,
                             dl: Long, terms: Array[TermFreq])

  /** Bucket of a term — must match `pmod(xxhash64(term), nBuckets)` (seed
    * 42, Spark's xxhash64 default) everywhere: build, query, maintenance.
    */
  private[graft] def termBucket(t: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
    math.floorMod(h, nBuckets.toLong).toInt
  }

  final case class SegRow(bucket: Int, key: String, range_id: Int,
                          first_doc: Long, last_doc: Long, n_docs: Long,
                          sum_tf: Long, max_tf: Int, n_bytes: Int,
                          postings: Array[Byte])

  /** Posting segment rows for id-stamped chunk rows. ONE shuffle: hash
    * repartition on (key, range_id) + in-partition sort; the streaming
    * segment builder then emits one delta+varint block segment per
    * (key, range_id) run. Shared by the full build (stage 3/4) and the
    * incremental update's delta append ([[graft.maint.Maintenance.update]]).
    */
  private[graft] def buildSegRows(spark: SparkSession, docsT: DataFrame,
                                  cfg: Config, stats: DocStats, grams: Boolean,
                                  buckets: Seq[Int]): Dataset[SegRow] = {
    import spark.implicits._
    val missing = buckets
    val rangeSize = stats.rangeSize
    val (k1, b, avgdl, blockSize) = (cfg.k1, cfg.b, stats.avgdl, cfg.blockSize)
    // hash repartition on (key, range_id) — NOT repartitionByRange, whose
    // sampling pass would evaluate the full explode twice. Skew is already
    // bounded: a hot term's postings split across nRanges range_id shards
    // (the salt), so no partition receives more than ~rangeSize rows per
    // term. The in-partition sort leads with bucket so the partitionBy
    // writer streams one bucket dir at a time.
    val segRows: Dataset[SegRow] =
      if (grams) {
        // RANGE-TRANSPOSED gram build: ship ONE row per chunk
        // (range_id, doc_id, grams[]) instead of exploding ~50-130
        // (gram, doc) pairs per chunk — ~5x fewer shuffle bytes and a
        // |chunks|-row sort instead of a |postings|-row sort. The kernel
        // walks each range's chunks in doc-id order and appends to one
        // SegmentBuilder per gram; per-task memory is BOUNDED at any corpus
        // size because the gram space is capped (37^3 codes: ~2 KB idle
        // builder state each) and a range's posting bytes are capped by
        // rangeSize (the nRanges knob sizes kernels to executor memory).
        // Works for the incremental delta append too (any doc-id range).
        // Resume granularity: on a partial resume each chunk's gram array
        // is pre-filtered MAP-SIDE to the missing buckets (and empty rows
        // dropped), so the resumed shuffle carries only the missing
        // buckets' share of postings — ~|missing|/nBuckets of the full
        // stage's bytes — instead of re-shipping every gram and dropping
        // completed buckets in the kernel.
        val missingSet = missing.toSet
        val allBuckets = missingSet.size == cfg.nBuckets
        val nBuckets = cfg.nBuckets
        val gramRows = docsT
          .select(($"doc_id" / lit(rangeSize)).cast("int").as("range_id"),
            $"doc_id", $"grams")
          .as[(Int, Long, Array[Int])]
        val pruned =
          if (allBuckets) gramRows
          else gramRows
            .map { case (r, d, gs) =>
              (r, d, gs.filter(g => missingSet.contains(g % nBuckets)))
            }
            .filter(_._3.nonEmpty)
            .toDF("range_id", "doc_id", "grams")
            .as[(Int, Long, Array[Int])]
        pruned
          .repartition(cfg.shufflePartitions, $"range_id")
          .sortWithinPartitions($"range_id", $"doc_id")
          .mapPartitions { it =>
            // per-gram accumulator within the open range
            final class Acc(val sb: Postings.SegmentBuilder, val first: Long) {
              var last: Long = first
              var n: Long = 0L
            }
            new Iterator[SegRow] {
              // rows arrive sorted by (range_id, doc_id): exactly one range
              // is open at a time; its segments flush on the range break
              // (flush materializes one range's rows — the same bytes the
              // builders already hold, freed as the map clears)
              private var curRange = Int.MinValue
              private val open = new java.util.HashMap[Int, Acc]()
              private var drain: Iterator[SegRow] = Iterator.empty

              private def consumeRow(docId: Long, gs: Array[Int]): Unit = {
                var i = 0
                while (i < gs.length) {
                  val g = gs(i)
                  if (allBuckets || missingSet.contains(g % nBuckets)) {
                    var acc = open.get(g)
                    if (acc == null) {
                      // membership-only layout: no tf/dl sections (the gram
                      // index never scores — candidates/fuzzy need ids only)
                      acc = new Acc(new Postings.SegmentBuilder(k1, b, avgdl,
                        blockSize, hasTfDl = false), docId)
                      open.put(g, acc)
                    }
                    acc.sb.add(docId, 1, 1L)
                    acc.last = docId
                    acc.n += 1
                  }
                  i += 1
                }
              }

              private def flush(): Iterator[SegRow] = {
                val range = curRange
                val buf = new scala.collection.mutable.ArrayBuffer[SegRow](open.size)
                val e = open.entrySet().iterator()
                while (e.hasNext) {
                  val ent = e.next()
                  val g = ent.getKey
                  val acc = ent.getValue
                  val bytes = acc.sb.result()
                  buf += SegRow(g % nBuckets, s"g$g", range, acc.first,
                    acc.last, acc.n, acc.n, 1, bytes.length, bytes)
                }
                open.clear()
                buf.iterator
              }

              @annotation.tailrec
              private def fill(): Unit = {
                if (drain.hasNext) return
                if (!it.hasNext) {
                  if (!open.isEmpty) drain = flush()
                  return
                }
                val (range, docId, gs) = it.next()
                if (range != curRange && !open.isEmpty) {
                  drain = flush()
                  curRange = range
                  consumeRow(docId, gs)
                  // drain is non-empty: emit the finished range now
                } else {
                  curRange = range
                  consumeRow(docId, gs)
                  fill()
                }
              }

              override def hasNext: Boolean = { fill(); drain.hasNext }
              override def next(): SegRow = {
                if (!hasNext) throw new NoSuchElementException
                drain.next()
              }
            }
          }
      } else {
        // BUCKET+RANGE-TRANSPOSED term build (same idea as the gram branch):
        // one row per (chunk, term-bucket) with that bucket's TermFreq slice
        // — doc_id/dl shuffle once per bucket-slice instead of once per
        // posting, and the sort is over slice rows, not postings. The
        // kernel's live-builder state is bounded by distinct-terms-per-range
        // / nBuckets (nBuckets is the memory knob at web scale: 100s of
        // buckets keep the per-task term map small).
        val missingSet = missing.toSet
        val nBuckets = cfg.nBuckets
        docsT.select(($"doc_id" / lit(rangeSize)).cast("int").as("range_id"),
            $"doc_id", $"dl".cast("long").as("dl"), $"terms")
          .as[(Int, Long, Long, Array[TermFreq])]
          .mapPartitions { rows =>
          // per-task term->bucket memo: xxhash64 over a fresh UTF8String per
          // term-occurrence is the slicer's hottest path, and real-corpus
          // term frequency is Zipf — the memo hits for nearly every
          // occurrence. Size-capped so task memory stays bounded on
          // arbitrary vocabularies.
          val memo = new java.util.HashMap[String, Integer](1 << 12)
          // per-PARTITION slice workspace: one buffer per bucket, cleared
          // after each chunk (a fresh HashMap + buffers per chunk was the
          // slicer's dominant allocation — it runs once per chunk row)
          val bufs = new Array[scala.collection.mutable.ArrayBuffer[TermFreq]](nBuckets)
          rows.flatMap { case (range, docId, dl, tfs) =>
            tfs.foreach { tf =>
              val bkt = {
                var b = memo.get(tf.t)
                if (b == null) {
                  b = Integer.valueOf(termBucket(tf.t, nBuckets))
                  if (memo.size < (1 << 16)) memo.put(tf.t, b)
                }
                b.intValue
              }
              if (missingSet.contains(bkt)) {
                var buf = bufs(bkt)
                if (buf == null) {
                  buf = new scala.collection.mutable.ArrayBuffer[TermFreq](8)
                  bufs(bkt) = buf
                }
                buf += tf
              }
            }
            val out = new scala.collection.mutable.ArrayBuffer[TermSlice](8)
            var bkt = 0
            while (bkt < nBuckets) {
              val buf = bufs(bkt)
              if (buf != null && buf.nonEmpty) {
                out += TermSlice(bkt, range, docId, dl, buf.toArray)
                buf.clear()
              }
              bkt += 1
            }
            out
          }
          }
          .repartition(cfg.shufflePartitions, $"bucket", $"range_id")
          .sortWithinPartitions($"bucket", $"range_id", $"doc_id")
          .mapPartitions { it =>
            final class Acc(val sb: Postings.SegmentBuilder, val first: Long) {
              var last: Long = first
              var n: Long = 0L
              var sumTf: Long = 0L
              var maxTf: Int = 0
            }
            new Iterator[SegRow] {
              // rows sorted by (bucket, range_id, doc_id): one (bucket,
              // range) group open at a time, flushed on the break
              private var curBucket = Int.MinValue
              private var curRange = Int.MinValue
              private val open = new java.util.HashMap[String, Acc]()
              private var drain: Iterator[SegRow] = Iterator.empty

              private def consumeRow(s: TermSlice): Unit = {
                var i = 0
                while (i < s.terms.length) {
                  val tf = s.terms(i)
                  var acc = open.get(tf.t)
                  if (acc == null) {
                    acc = new Acc(new Postings.SegmentBuilder(k1, b, avgdl,
                      blockSize), s.doc_id)
                    open.put(tf.t, acc)
                  }
                  acc.sb.add(s.doc_id, tf.f, s.dl)
                  acc.last = s.doc_id
                  acc.n += 1
                  acc.sumTf += tf.f
                  if (tf.f > acc.maxTf) acc.maxTf = tf.f
                  i += 1
                }
              }

              private def flush(): Iterator[SegRow] = {
                val (bucket, range) = (curBucket, curRange)
                val buf = new scala.collection.mutable.ArrayBuffer[SegRow](open.size)
                val e = open.entrySet().iterator()
                while (e.hasNext) {
                  val ent = e.next()
                  val acc = ent.getValue
                  val bytes = acc.sb.result()
                  buf += SegRow(bucket, ent.getKey, range, acc.first, acc.last,
                    acc.n, acc.sumTf, acc.maxTf, bytes.length, bytes)
                }
                open.clear()
                buf.iterator
              }

              @annotation.tailrec
              private def fill(): Unit = {
                if (drain.hasNext) return
                if (!it.hasNext) {
                  if (!open.isEmpty) drain = flush()
                  return
                }
                val s = it.next()
                if ((s.bucket != curBucket || s.range_id != curRange) && !open.isEmpty) {
                  drain = flush()
                  curBucket = s.bucket; curRange = s.range_id
                  consumeRow(s)
                } else {
                  curBucket = s.bucket; curRange = s.range_id
                  consumeRow(s)
                  fill()
                }
              }

              override def hasNext: Boolean = { fill(); drain.hasNext }
              override def next(): SegRow = {
                if (!hasNext) throw new NoSuchElementException
                drain.next()
              }
            }
          }
      }
    segRows
  }

  /** Stage 3/4 — posting segments. Resume unit: bucket. */
  private[graft] def stagePostings(spark: SparkSession, dir: String, cfg: Config,
                            stats: DocStats, grams: Boolean): Int = {
    import spark.implicits._
    val stage = if (grams) "postings_grams" else "postings_terms"
    val outDir = if (grams) gramPostingsDir(dir) else termPostingsDir(dir)
    val done = Manifest.completed(dir, stage)
    val missing = (0 until cfg.nBuckets).filterNot(b => done(b.toString))
    if (missing.isEmpty) return cfg.nBuckets
    val t0 = System.nanoTime()
    // Token arrays are re-derived from the docs store's chunk text (ids
    // already stamped — no join, no shuffle before the transposed
    // repartition; tokenization is deterministic, so a bucket rebuilt
    // years later produces byte-identical segments). Explicit grams
    // (reference `chunk` command) are data, not derivable — they ride in
    // the nullable explicit_grams column.
    val docsT: DataFrame =
      if (grams)
        spark.read.parquet(docsDir(dir))
          .select($"doc_id", $"dl", $"chunk_text", $"explicit_grams")
          .as[(Long, Int, String, Array[Int])]
          .map { case (id, dl, text, eg) =>
            (id, dl,
              if (eg != null) eg
              else Gram.gramsSorted(partial = false, Seq(text)))
          }.toDF("doc_id", "dl", "grams")
      else
        spark.read.parquet(docsDir(dir))
          .select($"doc_id", $"dl", $"chunk_text")
          .as[(Long, Int, String)]
          .map { case (id, dl, text) =>
            (id, dl, Tokenizer.termFreqs(text).map { case (t, f) => TermFreq(t, f) })
          }.toDF("doc_id", "dl", "terms")
    val segRows = buildSegRows(spark, docsT, cfg, stats, grams, missing)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    segRows.write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    val wallMs = (System.nanoTime() - t0) / 1000000
    val m = spark.read.parquet(outDir).where(col("bucket").isin(missing: _*))
      .groupBy("bucket")
      .agg(count(lit(1)).as("rows"), sum($"n_bytes".cast("long")).as("bytes"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    missing.foreach { bkt =>
      val (rows, bytes) = m.getOrElse(bkt, (0L, 0L))
      Manifest.append(dir, Manifest.Entry(stage, bkt.toString, rows, bytes,
        stats.watermark, wallMs / missing.size))
    }
    done.size
  }

  /** Stage 5 — dictionary + gram dictionary from segment *metadata* only
    * (the postings binary column is pruned from the scan).
    */
  private[graft] def stageDictionary(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (Manifest.completed(dir, "dictionary")("all")) return
    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation()
    // term and gram dictionaries aggregate DIFFERENT posting tables into
    // DIFFERENT output dirs — run the two write jobs concurrently (§2.6)
    inParallel(
      () => {
        val seg = spark.read.parquet(termPostingsDir(dir))
          .groupBy($"key".as("term"))
          .agg(sum($"n_docs").as("df"), sum($"sum_tf").as("cf"), max($"max_tf").as("max_tf"))
        seg.repartitionByRange(8, $"term").sortWithinPartitions("term")
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(dictDir(dir))
      },
      () => {
        val gseg = spark.read.parquet(gramPostingsDir(dir))
          .groupBy(substring($"key", 2, 10).cast("int").as("gram"))
          .agg(sum($"n_docs").as("df"))
        gseg.repartitionByRange(8, $"gram").sortWithinPartitions("gram")
          .write.mode("overwrite").parquet(gramDictDir(dir))
      })
    val n = obs.get("n").asInstanceOf[Long]
    Manifest.append(dir, Manifest.Entry("dictionary", "all", n, 0L, "",
      (System.nanoTime() - t0) / 1000000))
  }

  def writeDocStats(dir: String, s: DocStats): Unit = {
    val json =
      s"""{"n_docs":${s.nDocs},"sum_dl":${s.sumDl},"avgdl":${s.avgdl},""" +
        s""""range_size":${s.rangeSize},"n_buckets":${s.nBuckets},""" +
        s""""n_ranges":${s.nRanges},"k1":${s.k1},"b":${s.b},""" +
        s""""next_doc_id":${s.nextDocId},"doc_parts":${s.docParts},""" +
        s""""chunk_mode":"${s.chunkMode}","watermark":"${s.watermark}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "docstats.json"),
      json.getBytes("UTF-8"))
  }

  def readDocStats(dir: String): DocStats = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "docstats.json")), "UTF-8")
    def num(k: String): String =
      (s""""$k":([-0-9.eE]+)""").r.findFirstMatchIn(s).get.group(1)
    def numOpt(k: String): Option[String] =
      (s""""$k":([-0-9.eE]+)""").r.findFirstMatchIn(s).map(_.group(1))
    def str(k: String): String =
      (s""""$k":"([^"]*)"""").r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    DocStats(num("n_docs").toLong, num("sum_dl").toLong, num("avgdl").toDouble,
      num("range_size").toLong, num("n_buckets").toInt, num("n_ranges").toInt,
      num("k1").toDouble, num("b").toDouble, str("watermark"),
      nextDocId = numOpt("next_doc_id").map(_.toLong)
        .getOrElse(num("n_docs").toLong),
      docParts = numOpt("doc_parts").map(_.toInt).getOrElse(0),
      chunkMode = Some(str("chunk_mode")).filter(_.nonEmpty)
        .getOrElse(ChunkMode.Lines))
  }
}
