package graft.perfbench

import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.build.IndexBuild
import graft.core.Gram
import graft.query.{Search, Wand}

/** Answers in one comparable form: ordered for BM25 (rank and score must
  * match exactly), sorted for the set-valued calls.
  */
object Answer {
  def bm25(rows: Seq[(Long, Double)]): Vector[String] =
    rows.map { case (d, s) => s"$d:${java.lang.Double.toString(s)}" }.toVector
  def ids(ids: Iterable[Long]): Vector[String] = ids.toVector.sorted.map(_.toString)
  def hits(rows: Iterable[(Long, Long)]): Vector[String] =
    rows.toVector.sorted.map { case (d, h) => s"$d:$h" }

  def mismatch(q: Inputs.Query, got: Vector[String], exp: Vector[String]): String =
    s"${q.key} got ${got.take(5)} (${got.size}) expected ${exp.take(5)} (${exp.size})"

  /** Run `q` through the engine and collect its answer. */
  def engine(search: Search, q: Inputs.Query): Vector[String] = q.op match {
    case "bm25_or" | "bm25_and" =>
      bm25(search.bm25TopK(q.terms, Oracle.K, conjunctive = q.op == "bm25_and")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    case "candidates" => ids(search.candidates(q.terms).collect().map(_.getLong(0)))
    case "fuzzy" =>
      hits(search.fuzzy(q.terms, Oracle.FuzzyRatio).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    case "search" => ids(search.search(q.terms).collect().map(_.getLong(1)))
  }
}

/** Brute-force answers from one snapshot of an index's docs store, computed
  * on the driver without the postings, the dictionaries or any kernel:
  *  - bm25: the `Search.bm25BruteForce` definition (every live chunk scored,
  *    contributions summed in term order, df over all stored chunks, the
  *    index's frozen avgdl/k1/b), so rank and score must match exactly;
  *  - candidates: the `Search.candidatesAgg` definition (live chunks whose
  *    gram set holds every query gram; empty if a gram is in no chunk);
  *  - search: a whole-word filter over the live chunks;
  *  - fuzzy: a gram-overlap count over the live chunks.
  * Tokens are split here with a regular expression, not the engine's
  * tokenizer.
  */
final class Oracle(spark: SparkSession, dir: String) {
  private val stats = IndexBuild.readDocStats(dir)
  private val rows: Array[(Long, Int, String, Array[Int])] =
    spark.read.parquet(IndexBuild.docsDir(dir))
      .select("doc_id", "dl", "chunk_text", "explicit_grams").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getSeq[Int](3).toArray))
  private val dead: Set[Long] =
    graft.maint.Maintenance.tombstones(spark, dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
  private val live = rows.filterNot(r => dead(r._1))

  // per-chunk term and gram sets, computed on all cores: a check runs with
  // the clock stopped, but inside the run's time limit
  private val tfs: Map[Long, Map[String, Int]] = rows.par.map { case (id, _, text, _) =>
    id -> Oracle.words(text).groupBy(identity).map { case (w, ws) => w -> ws.length }
  }.seq.toMap
  private val df: Map[String, Long] =
    tfs.values.flatMap(_.keys).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
  private val grams: Map[Long, Set[Int]] = rows.par.map { case (id, _, text, eg) =>
    id -> (if (eg != null) eg.toSet else Gram.grams(partial = false, Seq(text)))
  }.seq.toMap
  private val gramDict: Set[Int] = grams.values.flatten.toSet

  def nLive: Int = live.length
  def nTombstones: Int = dead.size

  def answer(q: Inputs.Query): Vector[String] = q.op match {
    case "bm25_or" => Answer.bm25(bm25(q.terms, conjunctive = false))
    case "bm25_and" => Answer.bm25(bm25(q.terms, conjunctive = true))
    case "candidates" => Answer.ids(candidates(Gram.gramsSorted(partial = false, q.terms)))
    case "fuzzy" => Answer.hits(fuzzy(q.terms))
    case "search" => Answer.ids(search(q.terms))
  }

  private def bm25(query: Seq[String], conjunctive: Boolean): Seq[(Long, Double)] = {
    val terms = query.flatMap(Oracle.words).distinct.sorted
    val present = terms.filter(df.contains)
    if (present.isEmpty || (conjunctive && present.size != terms.size)) return Seq.empty
    val n = rows.length.toLong
    val idfs = present.map(t => Wand.idf(n, df(t)))
    live.iterator.flatMap { case (id, dl, _, _) =>
      val tf = tfs(id)
      if (conjunctive && !present.forall(tf.contains)) None
      else {
        var s = 0.0
        var matched = false
        present.indices.foreach { i =>
          tf.get(present(i)).foreach { f =>
            s += Wand.contribution(idfs(i), f, dl.toLong, stats.k1, stats.b, stats.avgdl)
            matched = true
          }
        }
        if (matched) Some((id, s)) else None
      }
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(Oracle.K)
  }

  private def candidates(q: Array[Int]): Seq[Long] =
    if (q.isEmpty || !q.forall(gramDict)) Seq.empty
    else live.collect { case (id, _, _, _) if q.forall(grams(id)) => id }.toSeq

  private def fuzzy(args: Seq[String]): Seq[(Long, Long)] = {
    val q = Gram.gramsSorted(partial = true, args)
    if (q.isEmpty || !q.forall(gramDict)) return Seq.empty
    live.toSeq.flatMap { case (id, _, _, _) =>
      val h = q.count(grams(id))
      if (h > 0 && h / q.length.toDouble >= Oracle.FuzzyRatio) Some((id, h.toLong)) else None
    }
  }

  private def search(args: Seq[String]): Seq[Long] = {
    val want = args.map(_.toLowerCase)
    val gate = candidates(Gram.gramsSorted(partial = false, args)).toSet
    live.collect {
      case (id, _, text, _) if gate(id) && want.forall(Oracle.words(text).contains) => id
    }.toSeq
  }
}

object Oracle {
  final val K = 10
  final val FuzzyRatio = 0.6
  private val NonWord = "[^A-Za-z0-9]+".r
  def words(text: String): Seq[String] =
    NonWord.split(text).iterator.filter(_.nonEmpty).map(_.toLowerCase).toSeq

  /** Near-dup survivors from exact pair closure: the exact Jaccard pairs
    * (uncapped shingle self-join, no LSH) closed into components on the
    * driver; every doc but each component's minimum survives.
    */
  def nearDedupSurvivors(docs: DataFrame, allIds: Seq[Long], thresholdPermille: Int): Vector[Long] = {
    val pairs = graft.ops.Dedup.jaccardPairs(docs, thresholdPermille, allowUncapped = true)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    allIds.filter(id => find(id) == id).toVector.sorted
  }

  /** Keep-first line dedup: every non-empty line survives only at its first
    * occurrence in (doc_id, line index) order.
    */
  def dedupLines(docs: Seq[(Long, String)]): Vector[(Long, String)] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    docs.sortBy(_._1).map { case (id, text) =>
      val kept = text.split("\n", -1).filter(l => l.isEmpty || seen.add(l))
      id -> kept.mkString("\n")
    }.toVector
  }
}
