package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Gram
import graft.sources.WebCorpus

/** Every input the benchmark feeds the engine, drawn from the run's seed. */
object Inputs {

  /** One client query: `op` is the engine call, `cls` the term class. */
  final case class Query(op: String, cls: String, terms: Seq[String]) {
    def key: String = s"$op:${terms.mkString(" ")}"
  }

  val Ops: IndexedSeq[String] = IndexedSeq("bm25_or", "bm25_and", "candidates", "fuzzy", "search")
  val Classes: IndexedSeq[String] = IndexedSeq("hot", "mixed", "tail")
  private val HeadTerms = 50 // WebCorpus.Vocab: 50 head words, then the tail

  private def zipf(rng: java.util.Random, n: Int): Int =
    math.min(n - 1, math.max(0, (math.pow(n.toDouble, rng.nextDouble()) - 1).toInt))

  private def term(rng: java.util.Random, hot: Boolean): String =
    if (hot) WebCorpus.Vocab(zipf(rng, HeadTerms))
    else WebCorpus.Vocab(HeadTerms + zipf(rng, WebCorpus.Vocab.length - HeadTerms))

  /** `perCell` distinct queries for every op x class cell, in cell order. */
  def queryPool(seed: Long, perCell: Int): IndexedSeq[Query] = {
    val rng = new java.util.Random(seed * 31L + 7L)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Query]
    for (_ <- 0 until perCell; op <- Ops; cls <- Classes) {
      var tries = 0
      var added = false
      while (!added && tries < 50) {
        val nTerms = op match {
          case "bm25_or" => 2 + rng.nextInt(2)
          case "fuzzy" => 1
          case _ => 1 + rng.nextInt(2)
        }
        val ts = (0 until nTerms).map { j =>
          cls match {
            case "hot" => term(rng, hot = true)
            case "tail" => term(rng, hot = false)
            case _ => term(rng, hot = j == 0)
          }
        }.distinct
        val q = Query(op, cls, ts)
        if (!seen.contains(q.key)) { seen(q.key) = q; added = true }
        tries += 1
      }
    }
    seen.values.toIndexedSeq
  }

  /** The seeded `(url, warc_ts, html, text, lang)` corpus, as parquet. */
  def writeCorpus(spark: SparkSession, n: Long, seed: Long, parts: Int, dir: String): DataFrame = {
    WebCorpus.generate(spark, n, seed, parts).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def textBytes(corpus: DataFrame): Long =
    corpus.selectExpr("sum(octet_length(text))").head().getLong(0)

  /** One churn round's writes. */
  final case class Round(update: Seq[WebCorpus.WebDoc], deletes: Seq[String],
                         chunks: Seq[(String, String, Array[Int])], ts: Timestamp) {
    def deltaBytes: Long =
      update.map(_.text.getBytes("UTF-8").length.toLong).sum +
        chunks.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  /** Seeded churn rounds over the `n`-doc corpus generated from `corpusSeed`;
    * `seed` draws the rounds. Each round changes and adds
    * `batch / 2` documents each, deletes `nDelete` live urls and appends
    * `nChunks` single chunks under new urls. Changed and deleted urls are
    * drawn from the urls still live, so every write does real work.
    */
  final class Churn(n: Long, corpusSeed: Long, seed: Long, batch: Int, nDelete: Int,
                    nChunks: Int) {
    private val rng = new java.util.Random(seed * 131L + 3L)
    private val live = scala.collection.mutable.ArrayBuffer.tabulate(n.toInt)(i =>
      WebCorpus.makeDoc(i.toLong, corpusSeed).url)
    private var nextIdx = n
    private var round = 0

    private def takeLive(k: Int): Seq[String] = (0 until k).map { _ =>
      val i = rng.nextInt(live.size)
      val u = live(i)
      live(i) = live(live.size - 1)
      live.remove(live.size - 1)
      u
    }

    def next(): Round = {
      round += 1
      val ts = new Timestamp(1700000000000L + round * 1000L)
      val changed = takeLive(batch / 2).map { url =>
        val text = WebCorpus.makeText(1000000000L + nextIdx, seed)
        nextIdx += 1
        WebCorpus.WebDoc(url, ts, WebCorpus.makeHtml(url, text), text, "en")
      }
      val added = (0 until batch - batch / 2).map { _ =>
        val d = WebCorpus.makeDoc(nextIdx, corpusSeed)
        nextIdx += 1
        d.copy(warc_ts = ts)
      }
      val deletes = takeLive(nDelete)
      // the changed and added urls stay live after this round
      live ++= changed.map(_.url) ++= added.map(_.url)
      val chunks = (0 until nChunks).map { j =>
        val data = WebCorpus.makeText(2000000000L + nextIdx, seed).takeWhile(_ != '\n')
        nextIdx += 1
        (s"https://chunks.example/r$round/c$j", data,
          Gram.gramsSorted(partial = false, Seq(data)))
      }
      Round(changed ++ added, deletes, chunks, ts)
    }
  }

  /** Seeded documents table `(doc_id, text)` with planted near-duplicate
    * clusters: `nClusters` base documents of at least 25 words each get one
    * or two clones (the base text plus one appended word, so word-3-shingle
    * Jaccard >= 0.92). Returns the table and the planted clusters as
    * doc_id groups, base first.
    */
  def dedupDocs(n: Int, seed: Long, nClusters: Int): (IndexedSeq[(Long, String)], Seq[Seq[Long]]) = {
    val rng = new java.util.Random(seed * 977L + 11L)
    val base = (0 until n).map(i => i.toLong -> WebCorpus.makeText(i.toLong, seed))
    val long = base.filter { case (_, t) => t.split("\\s+").count(_.nonEmpty) >= 25 }.map(_._1)
    val bases = rng.ints(0, long.size).distinct().limit(math.min(nClusters, long.size).toLong)
      .toArray.toSeq.map(long(_)).sorted
    var next = n.toLong
    val clones = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val clusters = bases.map { b =>
      val members = (0 until 1 + rng.nextInt(2)).map { _ =>
        val extra = WebCorpus.Vocab(WebCorpus.Vocab.length - 1 - rng.nextInt(500))
        clones += (next -> (base(b.toInt)._2 + extra + "\n"))
        next += 1
        next - 1
      }
      b +: members
    }
    (base ++ clones, clusters)
  }
}
