package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.build.IndexBuild
import graft.core.{Gram, Tokenizer}

/** Query engine over a built index directory — the Spark-native rebuild of
  * the reference's `search` path (reference: cmdSearch fts-lmdb.go:1046-1081,
  * findCandidates 1128-1165, intersectGrams 1497-1528, fuzzyMatch 1530-1550,
  * hasArg verify 1299-1311) plus BM25 top-k with block-max WAND per the
  * north rule.
  *
  * Plan shapes:
  *  - candidate retrieval prunes the gram-postings scan to the query grams'
  *    bucket partitions (partition pruning) + key pushdown, then intersects
  *    per doc range with a block-skipping kernel (no shuffle);
  *  - candidates are verified against chunk text AFTER hydration, exactly
  *    like the reference's candidates-then-verify split;
  *  - BM25 groups the query terms' segments by doc range (range_id) so the
  *    WAND kernel runs document-partitioned; only per-range top-k rows and
  *    the final global TakeOrdered cross the wire.
  */
class Search(private[graft] val spark: SparkSession,
             private[graft] val dir: String,
             /** see [[MaxInlineCandidates]]; tests inject 0 to force the
               * join-hydration path */
             maxInlineCandidates: Int = Search.DefaultMaxInlineCandidates,
             /** see [[MaxInlineTombstones]]; tests inject 0 to force the
               * distributed dead-id path */
             maxInlineTombstones: Long = Search.DefaultMaxInlineTombstones)
    extends Serializable {
  import spark.implicits._
  import Search.Seg

  val stats: IndexBuild.DocStats = IndexBuild.readDocStats(dir)

  /** Tombstone cardinality — a parquet-footer count over the small
    * tombstone table (never the docs store).
    */
  lazy val nTombstones: Long = {
    val t = graft.maint.Maintenance.tombstones(spark, dir)
    if (t.isEmpty) 0L else t.count()
  }

  /** Tombstoned doc ids (reference validity filter P5) as an exact driver
    * set — only materialized below [[Search.MaxInlineTombstones]]; a
    * bulk-delete backlog must never collect to the driver (use the
    * distributed cogroup path instead). Bounded between compacts;
    * [[graft.maint.Maintenance.compact]] resets it.
    */
  lazy val tombstonedIds: Set[Long] = {
    if (nTombstones == 0) Set.empty[Long]
    else graft.maint.Maintenance.tombstones(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
  }

  private def liveFilter(df: DataFrame): DataFrame =
    if (nTombstones == 0) df
    else if (nTombstones <= maxInlineTombstones) {
      val ids = tombstonedIds
      df.where(!$"doc_id".isInCollection(ids))
    } else
      df.join(graft.maint.Maintenance.tombstones(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_anti")

  /** Run a per-range posting kernel with the right tombstone plan: below
    * the gate, an exact dead set travels in the closure; above it, the
    * tombstone ids stay distributed and are cogrouped into each range's
    * kernel by range_id — no driver materialization, exact semantics.
    */
  private def perRangeKernel[T: org.apache.spark.sql.Encoder](
      segs: org.apache.spark.sql.Dataset[Seg])(
      kernel: (Iterator[Seg], Long => Boolean) => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    if (nTombstones <= maxInlineTombstones) {
      val dead = tombstonedIds
      val live: Long => Boolean =
        if (dead.isEmpty) _ => true else d => !dead.contains(d)
      segs.groupByKey(_.range_id).flatMapGroups((_, it) => kernel(it, live))
    } else {
      val rs = stats.rangeSize
      val deadByRange = graft.maint.Maintenance.tombstones(spark, dir)
        .select($"doc_id").as[Long]
        .map(id => ((id / rs).toInt, id))
        .groupByKey(_._1)
      segs.groupByKey(_.range_id).cogroup(deadByRange) { (_, segIt, deadIt) =>
        val ds = new scala.collection.mutable.HashSet[Long]
        deadIt.foreach(ds += _._2)
        kernel(segIt, d => !ds.contains(d))
      }
    }
  }

  /** Delegates to the build-side definition so the hash/seed/floorMod
    * contract lives in exactly one place — query-time bucket pruning must
    * never diverge from build-time bucket assignment.
    */
  private def termBucket(t: String): Int =
    IndexBuild.termBucket(t, stats.nBuckets)

  /** Size-gated driver cache of the whole term dictionary: at or below
    * [[Search.MaxInlineDictTerms]] rows (one `LIMIT gate+1` collect that
    * reads at most gate+1 rows) the (term, df) map is collected once per
    * Search instance and every query's dictionary slice is a driver map
    * probe instead of a Spark job — the same bounded-collect discipline as
    * [[gramDict]] / [[tombstonedIds]]. Above the gate (web-scale
    * vocabularies) the cache stays empty and [[dictLookup]] falls back to
    * the pruned per-query scan. Bound to the index state at construction,
    * like `stats`.
    */
  private lazy val inlineDict: Option[Map[String, Long]] = {
    // ONE bounded job, not count-then-collect: a LIMIT gate+1 collect
    // returns every row when the dictionary is at/below the gate (the
    // limit is never reached) and exactly gate+1 rows — scanned
    // incrementally, bounded driver memory — when it is above, in which
    // case the probe is discarded and the per-query pruned scan stands.
    val probe = spark.read.parquet(IndexBuild.dictDir(dir))
      .select($"term", $"df".cast("long"))
      .limit(Search.MaxInlineDictTerms.toInt + 1).collect()
    if (probe.length > Search.MaxInlineDictTerms) None
    else Some(probe.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Dictionary lookup for query terms (term -> df). Tiny collect: the
    * north rule's "broadcast dictionary" slice for this query.
    */
  def dictLookup(terms: Seq[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    inlineDict match {
      case Some(m) => terms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
      case None =>
        spark.read.parquet(IndexBuild.dictDir(dir))
          .where($"term".isin(terms: _*))
          .select($"term", $"df".cast("long"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** The whole gram dictionary, cached driver-side: it is bounded by the
    * gram space (37^3 = 50,653 entries) at ANY corpus size, so one small
    * job per Search instance replaces a dictionary-scan job per query.
    */
  private lazy val gramDict: Map[Int, Long] =
    spark.read.parquet(IndexBuild.gramDictDir(dir))
      .select($"gram", $"df".cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def gramDictLookup(grams: Seq[Int]): Map[Int, Long] =
    grams.iterator.flatMap(g => gramDict.get(g).map(g -> _)).toMap


  /** Pruned scan of a postings table for the given keys. */
  private def segments(keys: Seq[String], gramsTable: Boolean): org.apache.spark.sql.Dataset[Seg] = {
    val path = if (gramsTable) IndexBuild.gramPostingsDir(dir)
               else IndexBuild.termPostingsDir(dir)
    val buckets =
      if (gramsTable) keys.map(k => k.drop(1).toInt % stats.nBuckets).distinct
      else keys.map(termBucket).distinct
    spark.read.parquet(path)
      .where($"bucket".isin(buckets: _*) && $"key".isin(keys: _*))
      .select($"key", $"range_id", $"first_doc", $"postings")
      .as[Seg]
  }

  // ---------------------------------------------------------------- BM25

  /** BM25 top-k (conjunctive = every term must match). Returns
    * (doc_id, score) sorted (score desc, doc_id asc), exactly k rows max.
    */
  def bm25TopK(query: Seq[String], k: Int, conjunctive: Boolean): DataFrame = {
    val terms = query.flatMap(Tokenizer.terms).distinct.sorted
    val dict = dictLookup(terms)
    val present = terms.filter(dict.contains)
    val effective = if (conjunctive) {
      if (present.size != terms.size) Seq.empty else terms
    } else present
    if (effective.isEmpty)
      return spark.emptyDataset[Wand.ScoredDoc].toDF("doc_id", "score")
    val n = stats.nDocs
    val termMeta: Map[String, (Int, Double)] = effective.zipWithIndex.map {
      case (t, i) => t -> (i, Wand.idf(n, dict(t)))
    }.toMap
    val (k1, b, avgdl) = (stats.k1, stats.b, stats.avgdl)
    val nTerms = effective.size
    val conj = conjunctive
    val perRange = perRangeKernel(segments(effective, gramsTable = false)) {
      (rows, live) =>
        val byTerm = rows.toArray.groupBy(_.key)
        val cursors = termMeta.toArray.sortBy(_._2._1).flatMap { case (t, (idx, idfV)) =>
          byTerm.get(t).map { segs =>
            new Wand.TermCursor(idx, idfV,
              segs.sortBy(_.first_doc).map(_.postings), k1, b)
          }
        }
        if (conj && cursors.length != nTerms) Iterator.empty
        else Wand.topK(cursors, k, conj, k1, b, avgdl, d => !live(d)).iterator
    }
    perRange.toDF("doc_id", "score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
  }

  // ------------------------------------------------- candidate retrieval

  /** Conjunctive gram-candidate retrieval (reference intersectGrams,
    * fts-lmdb.go:1497-1528): per doc range, a leapfrog block-skipping
    * intersection kernel over the query grams' segments — only matching
    * doc ids leave each partition (no posting-list explosion, no shuffle
    * beyond the pruned segment scan). Missing gram short-circuits to empty
    * (reference exits 1).
    */
  def candidates(args: Seq[String], partial: Boolean = false): DataFrame = {
    val grams = Gram.gramsSorted(partial, args)
    candidatesFromGrams(grams, gramDictLookup(grams.toSeq))
  }

  /** Explicit-gram candidate retrieval (reference `search -candidates
    * -grams/-gx/-gd`, gramFor fts-lmdb.go:780-793): same kernel as
    * [[candidates]] but the caller supplies gram codes directly — parse
    * literal forms with [[Gram.parseGram]].
    */
  def candidatesByGrams(grams: Seq[Int]): DataFrame = {
    val gs = grams.distinct.sorted.toArray
    candidatesFromGrams(gs, gramDictLookup(gs.toSeq))
  }

  /** Kernel shared by [[candidates]]/[[search]] so the dictionary slice is
    * looked up exactly once per query.
    */
  private def candidatesFromGrams(grams: Array[Int], df: Map[Int, Long]): DataFrame = {
    if (grams.isEmpty || grams.exists(g => !df.contains(g)))
      return spark.range(0).select($"id".as("doc_id"))
    val keys = grams.map(g => s"g$g").toSeq
    val nKeys = keys.size
    perRangeKernel(segments(keys, gramsTable = true)) { (rows, live) =>
      val byKey = rows.toArray.groupBy(_.key)
      if (byKey.size != nKeys) Iterator.empty
      else {
        val cursors = byKey.toArray.sortBy(_._1).zipWithIndex.map {
          case ((_, segs), i) =>
            new Wand.TermCursor(i, 0.0, segs.sortBy(_.first_doc).map(_.postings), 1.2, 0.75)
        }
        Wand.intersect(cursors, live)
      }
    }.toDF("doc_id")
  }

  /** Fuzzy gram-overlap scoring (reference fuzzyMatch fts-lmdb.go:1530-1550;
    * forces partial grams per 1056-1061; any missing gram -> empty).
    * Returns (doc_id, hits, ratio) for ratio >= minRatio. Implemented as a
    * per-range k-way merge kernel; per-doc hit counts never shuffle.
    */
  def fuzzy(args: Seq[String], minRatio: Double): DataFrame = {
    val grams = Gram.gramsSorted(partial = true, args)
    val df = gramDictLookup(grams.toSeq)
    if (grams.isEmpty || grams.exists(g => !df.contains(g)))
      return spark.range(0).select($"id".as("doc_id"), lit(0L).as("hits"),
        lit(0.0).as("ratio"))
    val q = grams.length.toDouble
    val minR = minRatio
    perRangeKernel(segments(grams.map(g => s"g$g").toSeq, gramsTable = true)) {
      (rows, live) =>
        val cursors = rows.toArray.groupBy(_.key).toArray.sortBy(_._1)
          .zipWithIndex.map { case ((_, segs), i) =>
            new Wand.TermCursor(i, 0.0, segs.sortBy(_.first_doc).map(_.postings), 1.2, 0.75)
          }
        Wand.overlapCounts(cursors, live)
          .filter { case (_, hits) => hits / q >= minR }
          .map { case (d, hits) => (d, hits.toLong, hits / q) }
    }.toDF("doc_id", "hits", "ratio")
  }

  /** Fuzzy search with the reference's result framing (W2/W4). Hydrates
    * [[fuzzy]] doc rows to chunks and orders them like the reference:
    *  - default: per-group best-match-first (chunkInfo fts-lmdb.go:1366-1371)
    *    — rows ranked within each url by (ratio desc), output ordered
    *    (url asc, rn asc), optional per-group limit;
    *  - `sortGlobal=true` (`-fuzzy -sort`, sortFuzzy fts-lmdb.go:1390-1408):
    *    one global ordering (ratio ASC, url ASC) ignoring group framing.
    * The reference's equal-ratio order is map-iteration nondeterministic;
    * we tie-break by doc_id for reproducibility.
    *
    * The global rank is computed WITHOUT a single-partition window: rows
    * are range-partitioned + sorted on the total key (ratio, url, doc_id)
    * and the rank is per-partition offset + local index (the same prefix-
    * sum trick as doc-id assignment, here via `zipWithIndex`) — a hot
    * query at a low minRatio ranks distributed instead of dragging every
    * match through one task. Cost: the count pass evaluates the (cheap,
    * kernel-side-filtered) fuzzy scoring twice.
    */
  def fuzzySearch(args: Seq[String], minRatio: Double,
                  sortGlobal: Boolean = false,
                  limitPerGroup: Int = Int.MaxValue,
                  /** also emit `position` (rune_off+1, the reference
                    * chunkInfo start field) for display rendering; off by
                    * default so the relational output schema is stable */
                  includePosition: Boolean = false): DataFrame = {
    val docs = spark.read.parquet(IndexBuild.docsDir(dir))
    val hydrated0 = docs.join(fuzzy(args, minRatio).hint("SHUFFLE_HASH"),
      Seq("doc_id"))
    // the reference's -limit caps results PER GROUP at chunk fetch, BEFORE
    // any global sort (chunkInfo `len(result) >= cfg.limit`, fts-lmdb.go:
    // 1359-1362) — so it applies in both framings. Its truncation order is
    // map-random; we keep the group's BEST matches (ratio desc, doc_id) for
    // a deterministic, strictly-more-useful cut. Window only when a limit
    // is set (same rule as search's W5).
    val hydrated =
      if (limitPerGroup == Int.MaxValue) hydrated0
      else {
        val wl = Window.partitionBy($"url").orderBy($"ratio".desc, $"doc_id".asc)
        hydrated0.withColumn("lrn", row_number().over(wl))
          .where($"lrn" <= limitPerGroup).drop("lrn")
      }
    val framed = if (sortGlobal) {
      val np = spark.sessionState.conf.numShufflePartitions
      val sorted = hydrated
        .select($"url", $"doc_id", $"line", $"hits", $"ratio", $"chunk_text",
          ($"rune_off" + 1).as("position"))
        .repartitionByRange(np, $"ratio".asc, $"url".asc, $"doc_id".asc)
        .sortWithinPartitions($"ratio".asc, $"url".asc, $"doc_id".asc)
        .as[(String, Long, Int, Long, Double, String, Long)]
      // the sort key is total (doc_id is unique), so offset+local-index
      // reproduces row_number exactly, independent of range boundaries
      val ranked = sorted.rdd.zipWithIndex().map {
        case ((url, id, line, hits, ratio, text, pos), i) =>
          (url, id, line, hits, ratio, text, pos, i + 1)
      }
      spark.createDataFrame(ranked)
        .toDF("url", "doc_id", "line", "hits", "ratio", "chunk_text",
          "position", "rn")
        .orderBy($"rn")
    } else {
      val w = Window.partitionBy($"url").orderBy($"ratio".desc, $"doc_id".asc)
      hydrated.withColumn("rn", row_number().over(w))
        .select($"url", $"doc_id", $"line", $"hits", $"ratio", $"chunk_text",
          ($"rune_off" + 1).as("position"), $"rn")
        .orderBy($"url", $"rn")
    }
    if (includePosition) framed
    else framed.drop("position")
  }

  // ------------------------------------------------------- full search

  /** Whole-word verify as a codegen'd Catalyst expression — see
    * [[graft.functions.VerifyMatch]] (stays inside whole-stage codegen; no
    * per-row args conversion like the UDF form it replaced).
    */
  private def verifyCol(chunk: Column, args: Seq[String], partial: Boolean): Column =
    graft.functions.VerifyMatch(chunk, args, partial)

  /** Full reference search semantics: gram candidates -> hydrate chunk rows
    * -> exact whole-word verify (AND of args) -> per-url ordering by
    * position with optional per-url limit (reference -limit,
    * fts-lmdb.go:1355-1365). Output columns mirror chunkInfo
    * (fts-lmdb.go:1328-1350).
    */
  def search(args: Seq[String], partial: Boolean = false,
             limitPerGroup: Int = Int.MaxValue,
             filterRegex: Option[String] = None): DataFrame = {
    val docs = spark.read.parquet(IndexBuild.docsDir(dir))
    // |candidates| <= min gram df, so the broadcast dictionary decides the
    // hydration plan BEFORE any kernel runs: small bound -> collect the ids
    // and push them into the docs scan; huge bound -> shuffle join, ids
    // never touch the driver.
    val grams = Gram.gramsSorted(partial, args)
    val dfs = gramDictLookup(grams.toSeq)
    val minDf =
      if (grams.isEmpty || grams.exists(g => !dfs.contains(g))) 0L
      else grams.map(g => dfs(g)).min
    val cands = candidatesFromGrams(grams, dfs) // dictionary looked up once
    val hydrated0 =
      if (minDf <= maxInlineCandidates) {
        val candIds = cands.select($"doc_id").as[Long].collect()
        docs.where($"doc_id".isInCollection(candIds))
      } else
        // SHUFFLE_HASH with the id-only candidate side as build: a sort-
        // merge join would sort the heavy chunk-text rows by doc_id just
        // to probe them (the same anti-pattern the id stamp avoids)
        docs.join(cands.hint("SHUFFLE_HASH"), Seq("doc_id"))
    val regexFiltered = filterRegex match {
      // reference -filter (fts-lmdb.go:1094-1099, applied at 1272); Java
      // dialect here vs the reference's RE2 — documented divergence
      case Some(re) => hydrated0.where($"chunk_text".rlike(re))
      case None => hydrated0
    }
    val hydrated = regexFiltered
      .withColumn("offset", verifyCol($"chunk_text", args, partial))
      .where($"offset" >= 0)
    // W5 limit-per-group window only when a limit is actually set — with
    // the default unlimited it would add a whole shuffle just to compute a
    // row number the projection drops
    val limited =
      if (limitPerGroup == Int.MaxValue) hydrated
      else {
        val w = Window.partitionBy($"url").orderBy($"byte_start".asc, $"doc_id".asc)
        hydrated.withColumn("rn", row_number().over(w))
          .where($"rn" <= limitPerGroup)
      }
    limited
      .select($"url", $"doc_id", $"line", ($"rune_off" + 1).as("position"),
        $"offset", $"chunk_text", $"byte_start")
      .orderBy($"url", $"byte_start")
      .drop("byte_start")
  }

  /** Search-time staleness check (reference findBadFiles,
    * fts-lmdb.go:1109-1126, which stats each hit's file): compare the
    * given urls' newest live indexed version against a current docs table.
    * Returns (url, status) with status `missing` (url absent from
    * `currentDocs` — reference exit 2) or `stale` (current version strictly
    * NEWER than the indexed one — reference exit 3). Strictly newer, not
    * merely different: the reference flags `ModTime().After(lastChanged)`
    * (fts-lmdb.go:1118), so a current version OLDER than the indexed one is
    * fresh — e.g. a file restored from backup after indexing a newer edit.
    *
    * Scale shape: `urls` is the hit-url set (bounded by the result), so
    * the indexed-version lookup runs docpart-pruned over the docs store
    * ([[graft.maint.Maintenance.docsOfUrls]]) and the join against the
    * (possibly huge) current table broadcasts the url set — the current
    * corpus is scanned once, never shuffled.
    */
  def badFiles(urls: DataFrame, currentDocs: DataFrame): DataFrame = {
    val indexed = graft.maint.Maintenance.docsOfUrls(spark, dir, urls)
      .join(graft.maint.Maintenance.tombstones(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .groupBy($"url").agg(max($"warc_ts").as("indexed_ts"))
    // one row per url even if the current table carries multiple versions
    // (changelog-style): the NEWEST version is "the file's mtime" — a url
    // is fresh iff that newest version is the indexed one
    val cur = currentDocs.select($"url", $"warc_ts")
      .join(broadcast(indexed.select("url")), Seq("url"), "left_semi")
      .groupBy($"url").agg(max($"warc_ts").as("cur_ts"))
    indexed.join(cur, Seq("url"), "left_outer")
      .select($"url", when($"cur_ts".isNull, "missing")
        .when($"cur_ts" > $"indexed_ts", "stale").as("status"))
      .where($"status".isNotNull)
  }

  /** [[search]] with stale/missing groups dropped (reference `search -f`:
    * skip bad files instead of erroring, fts-lmdb.go:1117-1120).
    * Below [[Search.DefaultMaxInlineCandidates]] bad urls, the set is
    * collected once (bounded probe via take(gate+1)) and applied as a
    * pushed-down filter; above the gate — a changed-everything corpus
    * under a hot query — the bad set stays distributed and is removed
    * with a left-anti join, the same pattern as the tombstone path. In
    * both shapes the search pipeline executes twice total (badFiles
    * derivation + the returned frame), not once more per join input.
    */
  def searchFresh(args: Seq[String], currentDocs: DataFrame,
                  partial: Boolean = false,
                  limitPerGroup: Int = Int.MaxValue,
                  filterRegex: Option[String] = None): DataFrame = {
    val hits = search(args, partial, limitPerGroup, filterRegex)
    // cache the (small: url+status) bad set so the probe AND the anti-join
    // consumer read one materialization — without it the anti-join's build
    // side would re-run the whole search pipeline a third time
    val bad = badFiles(hits.select("url").distinct(), currentDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = bad.select("url").as[String].take(maxInlineCandidates + 1)
    if (probe.length <= maxInlineCandidates) {
      bad.unpersist()
      if (probe.isEmpty) hits
      else hits.where(!$"url".isInCollection(probe.toSeq))
    } else {
      // above the gate, materialize the (bounded: one row per bad url) set
      // as a scratch parquet and unpersist — a long-lived session running
      // many above-gate calls must not pin cached blocks until LRU
      // pressure evicts them; the lazy consumer re-reads a tiny file
      // instead. The scratch lives INSIDE the index dir: that is shared
      // storage by construction (every executor reads/writes it), whereas
      // a driver-local temp path would shred across executor-local disks
      // on a real cluster. The path is UNIQUE PER CALL (a process-wide
      // counter + a random session token), so an earlier call's
      // still-unevaluated result can never silently read a later call's
      // bad-url set or hit a missing file — the fixed-path overwrite bug.
      // Scratch files are one tiny url list each; they are removed with the
      // index dir (delete/compact/rebuild), and a caller that keeps an
      // index for years can clear `badurls_scratch_*` whenever no returned
      // frame is still live. Note the write also means searchFresh's
      // above-gate shape requires a WRITABLE index dir — the documented
      // trade-off for not pinning cached blocks.
      val scratch = s"$dir/badurls_scratch_${Search.scratchToken}_" +
        s"${Search.scratchCounter.incrementAndGet()}"
      bad.select("url").write.mode("overwrite").parquet(scratch)
      bad.unpersist()
      hits.join(spark.read.parquet(scratch), Seq("url"), "left_anti")
    }
  }

  /** File-cover search (reference -file mode, intersectFileGrams
    * fts-lmdb.go:1449-1495): a url matches iff for EVERY arg there exists a
    * chunk of that url whole-word-containing the arg (AND across args, OR
    * across chunks), gram-prefiltered per arg.
    */
  def searchFiles(args: Seq[String], partial: Boolean = false): DataFrame = {
    val docs = spark.read.parquet(IndexBuild.docsDir(dir))
    val perArg = args.zipWithIndex.map { case (a, i) =>
      val cands = candidates(Seq(a), partial)
      docs.join(cands.hint("SHUFFLE_HASH"), Seq("doc_id"))
        .where(verifyCol($"chunk_text", Seq(a), partial) >= 0)
        .select($"url").distinct()
        .withColumn("arg_i", lit(i))
    }
    perArg.reduce(_ union _)
      .groupBy($"url").agg(countDistinct($"arg_i").as("n_args"))
      .where($"n_args" === args.size)
      .select($"url")
      .orderBy($"url")
  }

  // ------------------------------------------------------- maintenance views

  /** DB-wide stats (reference `info`, totalInfo fts-lmdb.go:257-317). */
  def info(): DataFrame = {
    val docs = spark.read.parquet(IndexBuild.docsDir(dir))
    val dict = spark.read.parquet(IndexBuild.dictDir(dir))
    val gdict = spark.read.parquet(IndexBuild.gramDictDir(dir))
    docs.agg(countDistinct($"url").as("n_urls"), count(lit(1)).as("n_chunks"),
      sum($"dl".cast("long")).as("total_terms"))
      .crossJoin(dict.agg(count(lit(1)).as("n_terms")))
      .crossJoin(gdict.agg(count(lit(1)).as("n_grams")))
  }

  /** Per-group info view (reference `info -groups` / `info DB GROUP`,
    * fts-lmdb.go:273-317, 383-446): one row per url with chunk/term/gram
    * totals, latest warc_ts, and validity (tombstone flag). Aggregates the
    * docs store — one shuffle on url, no posting scan.
    */
  def infoGroups(): DataFrame = {
    val t = graft.maint.Maintenance.tombstones(spark, dir)
    val live = graft.maint.Maintenance.liveDocs(spark, dir)
    val liveAgg = live.groupBy($"url").agg(count(lit(1)).as("n_chunks"),
      sum($"dl".cast("long")).as("sum_dl"),
      sum($"n_grams".cast("long")).as("sum_grams"),
      max($"warc_ts").as("last_changed"))
      .withColumn("deleted", lit(false))
    // fully-tombstoned groups surface with zero chunks (reference shows
    // deleted groups in info -groups); empty groups (S8) likewise
    val deletedRows = t.select($"url").distinct()
      .join(liveAgg.select($"url"), Seq("url"), "left_anti")
      .select($"url", lit(0L).as("n_chunks"), lit(0L).as("sum_dl"),
        lit(0L).as("sum_grams"), lit(null).cast("timestamp").as("last_changed"),
        lit(true).as("deleted"))
    val emptyRows = graft.maint.Maintenance.emptyGroupUrls(spark, dir)
      .select($"url").distinct()
      .join(liveAgg.select($"url"), Seq("url"), "left_anti")
      .join(t.select($"url").distinct(), Seq("url"), "left_anti")
      .select($"url", lit(0L).as("n_chunks"), lit(0L).as("sum_dl"),
        lit(0L).as("sum_grams"), lit(null).cast("timestamp").as("last_changed"),
        lit(false).as("deleted"))
    liveAgg.unionByName(deletedRows).unionByName(emptyRows).orderBy($"url")
  }

  /** Per-group chunk listing (reference `info DB GROUP -chunks`,
    * fts-lmdb.go:383-446): chunk rows for one url in position order.
    */
  def infoChunks(url: String): DataFrame = {
    val u = url
    liveFilter(spark.read.parquet(IndexBuild.docsDir(dir)).where($"url" === u))
      .select($"url", $"doc_id", $"chunk_seq", $"line", $"rune_off",
        $"rune_len", $"byte_start", $"byte_len", $"dl", $"n_grams", $"chunk_text")
      .orderBy($"byte_start")
  }

  /** Full-fidelity gram coverage CDF (reference `info -grams`,
    * displayGrams fts-lmdb.go:319-381): for each of the reference's 15
    * thresholds, how many grams appear in <= that fraction of chunks.
    * Integer-exact (thresholds in ppm: df*10^6 <= ppm*nChunks) so the
    * DuckDB oracle hashes bit-stably. The gram dictionary is bounded by
    * 37^3 rows, so the threshold cross join is O(1) at any corpus size.
    */
  def gramCoverage(): DataFrame = {
    val nChunks = stats.nDocs
    val thDf = Search.CoverageThresholdsPpm.toDF("ppm")
    val gd = spark.read.parquet(IndexBuild.gramDictDir(dir))
      .select($"df".cast("long").as("df"))
    val counts = gd.crossJoin(thDf)
      .where($"df" * lit(1000000L) <= $"ppm" * lit(nChunks))
      .groupBy($"ppm").agg(count(lit(1)).as("n_grams"))
    thDf.join(counts, Seq("ppm"), "left")
      .select($"ppm", coalesce($"n_grams", lit(0L)).as("n_grams"))
      .orderBy($"ppm")
  }

  /** Storage byte totals (reference displayGrams totalBytes/chunkBytes/
    * gramBytes): logical payload bytes from segment metadata (n_bytes) and
    * chunk byte lengths — metadata-only scans, postings column pruned.
    */
  def indexSizes(): DataFrame = {
    val chunkBytes = spark.read.parquet(IndexBuild.docsDir(dir))
      .agg(sum($"byte_len").as("chunk_bytes"))
    val gramBytes = spark.read.parquet(IndexBuild.gramPostingsDir(dir))
      .agg(sum($"n_bytes".cast("long")).as("gram_bytes"))
    val termBytes = spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .agg(sum($"n_bytes".cast("long")).as("term_bytes"))
    chunkBytes.crossJoin(gramBytes).crossJoin(termBytes)
      .withColumn("total_bytes", $"chunk_bytes" + $"gram_bytes" + $"term_bytes")
  }

  /** Gram selectivity histogram (reference `info -grams`, displayGrams
    * fts-lmdb.go:319-381) — the skew diagnostic that motivates salting.
    */
  def gramHistogram(): DataFrame = {
    spark.read.parquet(IndexBuild.gramDictDir(dir))
      .agg(count(lit(1)).as("n_grams"), min($"df").as("min_df"),
        max($"df").as("max_df"), sum($"df").as("total_postings"),
        expr("percentile_approx(df, array(0.5, 0.9, 0.99), 10000)").as("df_pcts"))
  }
}

object Search {
  /** Candidate sets up to this size hydrate via a pushed-down id filter
    * (the docs files are doc_id-ascending, so parquet row-group stats prune
    * the scan) instead of a shuffle join against the full chunk store — the
    * distributed analog of the reference's per-OID chunk lookups
    * (getChunk fts-lmdb.go:1640-1642). Above it, fall back to the join:
    * a hot-term candidate list must never be collected to the driver.
    */
  final val DefaultMaxInlineCandidates = 100000

  /** Per-call scratch-path uniqueness for [[Search.searchFresh]]'s
    * above-gate bad-url set: a random per-process token (two concurrent
    * driver processes must not collide) plus a monotone counter.
    */
  private[query] val scratchToken: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())
  private[query] val scratchCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Term dictionaries up to this many rows are collected once per Search
    * instance and probed driver-side per query (~40 B/entry: ≤ ~20 MB at
    * the gate); above it every query runs the pruned dictionary scan —
    * a web-scale vocabulary must never be collected to the driver.
    */
  final val MaxInlineDictTerms = 500000L

  /** Tombstone sets up to this size ship as an exact driver-collected set
    * in kernel closures (16 MB of longs at the limit); above it dead ids
    * stay distributed and are cogrouped into the range kernels / anti-
    * joined in relational paths — a bulk-delete backlog must never OOM the
    * driver. Compaction resets the set.
    */
  final val DefaultMaxInlineTombstones = 2000000L

  /** The reference's 15 coverage thresholds (fts-lmdb.go:322-339) in parts
    * per million, ascending.
    */
  final val CoverageThresholdsPpm: Seq[Long] = Seq(1L, 10L, 100L, 1000L,
    10000L, 50000L, 100000L, 200000L, 300000L, 700000L, 750000L, 800000L,
    900000L, 950000L, 990000L)

  /** Posting-segment row projection used by query scans (top-level so the
    * Dataset encoder's generated code can construct it).
    */
  final case class Seg(key: String, range_id: Int, first_doc: Long,
                       postings: Array[Byte])
}
