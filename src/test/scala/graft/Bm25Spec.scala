package graft

import graft.build.IndexBuild
import graft.query.Search
import graft.SearchOracles._

/** BM25 rank-identity: the block-max WAND path must return exactly the same
  * top-k (doc ids AND scores, bitwise doubles) as the brute-force oracle,
  * conjunctive and disjunctive, across k values — SURVEY §5.2(4).
  */
class Bm25Spec extends SparkSuite {

  private lazy val dir = {
    val d = tmpDir("bm25-idx")
    val docs = graft.sources.WebCorpus.generate(spark, 400, seed = 42L, partitions = 4)
    IndexBuild.build(spark, docs, d,
      IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 4,
        shufflePartitions = 8, blockSize = 16))
    d
  }
  private lazy val search = new Search(spark, dir)

  private val queries = Seq(
    Seq("the"),                      // hot single term
    Seq("the", "of", "and"),        // all-stopword conjunctive stress
    Seq("w12x84", "the"),           // rare + hot
    Seq("w3x21", "w7x49"),          // two tail terms
    Seq("one", "word", "use"),
    Seq("nosuchterm"),              // absent
    Seq("nosuchterm", "the")        // mixed absent
  )

  private def collectTopK(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("WAND == brute force, disjunctive, k in {1,10,100}") {
    for (q <- queries; k <- Seq(1, 10, 100)) {
      val wand = collectTopK(search.bm25TopK(q, k, conjunctive = false))
      val brute = collectTopK(search.bm25BruteForce(q, k, conjunctive = false))
      assert(wand == brute, s"disjunctive q=$q k=$k")
    }
  }

  test("WAND == brute force, conjunctive, k in {1,10,100}") {
    for (q <- queries; k <- Seq(1, 10, 100)) {
      val wand = collectTopK(search.bm25TopK(q, k, conjunctive = true))
      val brute = collectTopK(search.bm25BruteForce(q, k, conjunctive = true))
      assert(wand == brute, s"conjunctive q=$q k=$k")
    }
  }

  test("conjunctive results are a subset of disjunctive with equal scores") {
    val conj = collectTopK(search.bm25TopK(Seq("the", "of"), 200, conjunctive = true)).toMap
    val disj = collectTopK(search.bm25TopK(Seq("the", "of"), 10000, conjunctive = false)).toMap
    conj.foreach { case (d, s) => assert(disj(d) == s) }
  }

  test("absent term: conjunctive empty, disjunctive ignores it") {
    assert(search.bm25TopK(Seq("nosuchterm", "the"), 10, conjunctive = true).count() == 0)
    val a = collectTopK(search.bm25TopK(Seq("nosuchterm", "the"), 10, conjunctive = false))
    val b = collectTopK(search.bm25TopK(Seq("the"), 10, conjunctive = false))
    assert(a == b)
  }

  test("scores are deterministic across repeated runs") {
    val a = collectTopK(search.bm25TopK(Seq("the", "of", "and"), 50, conjunctive = false))
    val b = collectTopK(search.bm25TopK(Seq("the", "of", "and"), 50, conjunctive = false))
    assert(a == b)
  }
}
