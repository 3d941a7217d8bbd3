package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.build.IndexBuild
import graft.core.{Gram, Postings, Tokenizer}
import graft.maint.Maintenance
import graft.query.{Search, Wand}

/** Cross-check oracles for the [[Search]] kernels, in test scope only.
  *
  * Each one answers the same question as a production kernel by a plainly
  * different plan: brute-force BM25 over every live chunk's text, and
  * candidate intersection as a hash aggregation or a semi-join chain over
  * exploded postings. Their live view is built from the public tombstone
  * table (an anti-join), never from the engine's size-gated live filter, so
  * they stay independent of the code they check.
  *
  * `import SearchOracles._` makes them read as methods of a [[Search]].
  */
object SearchOracles {

  implicit class SearchOracleOps(search: Search) {
    private val spark = search.spark
    private val dir = search.dir
    import spark.implicits._

    private def noDocs: DataFrame = spark.range(0).select($"id".as("doc_id"))

    /** Drops tombstoned doc ids with an anti-join on the tombstone table. */
    private def live(df: DataFrame): DataFrame =
      df.join(Maintenance.tombstones(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_anti")

    /** Exploded (key, doc_id) gram postings for the given keys. */
    private def exploded(keys: Seq[String]): DataFrame =
      spark.read.parquet(IndexBuild.gramPostingsDir(dir))
        .where($"key".isin(keys: _*))
        .select($"key", $"postings").as[(String, Array[Byte])]
        .flatMap { case (key, p) => Postings.decodeAll(p)._1.map(d => (key, d)) }
        .toDF("key", "doc_id")

    /** Brute-force BM25: every live chunk scored from its text with the
      * same contributions summed in the same lexicographic term order —
      * must be rank- and score-identical to [[Search.bm25TopK]].
      */
    def bm25BruteForce(query: Seq[String], k: Int, conjunctive: Boolean): DataFrame = {
      val terms = query.flatMap(Tokenizer.terms).distinct.sorted
      val dict = search.dictLookup(terms)
      if (terms.isEmpty || (conjunctive && !terms.forall(dict.contains)))
        return spark.emptyDataset[Wand.ScoredDoc].toDF("doc_id", "score")
      val present = terms.filter(dict.contains)
      val stats = search.stats
      val n = stats.nDocs
      val idfs = present.map(t => t -> Wand.idf(n, dict(t))).toMap
      val (k1, b, avgdl) = (stats.k1, stats.b, stats.avgdl)
      val termsB = present.toArray // lex-sorted
      // term freqs are re-derived from the chunk text (the docs store keeps
      // no token arrays) — deterministic, identical to the indexed postings
      val rows = Maintenance.liveDocs(spark, dir)
        .select($"doc_id", $"dl", $"chunk_text")
        .as[(Long, Int, String)]
        .flatMap { case (docId, dl, text) =>
          val m = Tokenizer.termFreqs(text).toMap
          if (conjunctive && !termsB.forall(m.contains)) Iterator.empty
          else {
            var s = 0.0
            var matched = false
            termsB.foreach { t =>
              m.get(t).foreach { f =>
                s += Wand.contribution(idfs(t), f, dl.toLong, k1, b, avgdl)
                matched = true
              }
            }
            if (matched) Iterator(Wand.ScoredDoc(docId, s)) else Iterator.empty
          }
        }
      rows.toDF("doc_id", "score").orderBy($"score".desc, $"doc_id".asc).limit(k)
    }

    /** [[Search.candidates]] as one hash aggregation (count == |Q|). */
    def candidatesAgg(args: Seq[String], partial: Boolean = false): DataFrame = {
      val grams = Gram.gramsSorted(partial, args)
      val df = search.gramDictLookup(grams.toSeq)
      if (grams.isEmpty || grams.exists(g => !df.contains(g))) return noDocs
      live(exploded(grams.map(g => s"g$g").toSeq))
        .groupBy($"doc_id").agg(count(lit(1)).as("hits"))
        .where($"hits" === grams.length)
        .select($"doc_id")
    }

    /** [[Search.candidates]] as a smallest-df-first left-semi join chain
      * (the reference's seed-smallest strategy, fts-lmdb.go:1505-1514).
      */
    def candidatesSemiJoin(args: Seq[String], partial: Boolean = false): DataFrame = {
      val grams = Gram.gramsSorted(partial, args)
      if (grams.isEmpty) return noDocs
      val dfs = search.gramDictLookup(grams.toSeq)
      if (grams.exists(g => !dfs.contains(g))) return noDocs
      val ordered = grams.sortBy(g => dfs(g)) // ascending df: seed smallest
      var acc = live(exploded(Seq(s"g${ordered.head}"))).select("doc_id")
      ordered.tail.foreach { g =>
        acc = acc.join(exploded(Seq(s"g$g")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      acc
    }
  }
}
