package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exactness baseline (one broadcast of the
  * query vectors, a single pass over the table — scales linearly and
  * shuffles only (query, k) winner rows). The LSH-bucketed variant is the
  * 100TB path: sign-random-projection buckets shrink the candidate set so
  * the exact re-rank touches only colliding rows.
  */
object Similarity {

  /** Cosine similarity in permille, computed with explicit left-to-right
    * double accumulation (`aggregate` over zipped products) so any engine
    * evaluating the same expression sequentially reproduces it.
    */
  private def cosinePermilleExpr(a: String, b: String): String =
    s"CAST(floor(${cosineDoubleExpr(a, b)} * 1000) AS long)"

  /** Brute-force top-k neighbors for each query vector (vec_id < nQueries)
    * among the rest, ranked by exact cosine (desc, then neighbor id).
    *
    * Scale shape: the QUERY side broadcasts (it is the small side by
    * construction — a handful of probe vectors); the candidate corpus is
    * scanned exactly once and never shuffled. Each scan task keeps a
    * bounded k-heap per query and emits at most |q|*k rows, so only
    * nPartitions*|q|*k winner rows reach the final merge — at 100 TB the
    * corpus stays where it is and the network carries winners only.
    */
  def cosineTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = emb.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val scored = c.join(broadcast(q), lit(true))
      .withColumn("cos_permille", expr(cosinePermilleExpr("qe", "ne")))
    mergeTopK(scored, k)
  }

  /** Per-partition bounded top-k per query over (query_id, neighbor_id,
    * cos_permille) rows, then an exact rank over the <= nPartitions*|q|*k
    * winner rows — scored candidates never shuffle, only winners do.
    */
  private def mergeTopK(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val kk = k
    val partial = scored
      .select(col("query_id"), col("neighbor_id"), col("cos_permille"))
      .as[(Long, Long, Long)].mapPartitions { it =>
        val worstFirst: Ordering[(Long, Long)] =
          Ordering.by { case (cos, nid) => (-cos, nid) }
        val heaps = new scala.collection.mutable.HashMap[Long,
          scala.collection.mutable.PriorityQueue[(Long, Long)]]()
        it.foreach { case (qid, nid, cos) =>
          val h = heaps.getOrElseUpdate(qid,
            new scala.collection.mutable.PriorityQueue[(Long, Long)]()(worstFirst))
          if (h.size < kk) h.enqueue((cos, nid))
          else if (worstFirst.compare((cos, nid), h.head) < 0) {
            h.dequeue(); h.enqueue((cos, nid))
          }
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (cos, nid) => (qid, nid, cos) }
        }
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_permille").desc, col("neighbor_id").asc)
    partial.toDF("query_id", "neighbor_id", "cos_permille")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_permille"), col("rn"))
      .orderBy("query_id", "rn")
  }

  final val LshPlanes = 12

  /** Sign-random-projection bucket id per vector: bit i = sign of the dot
    * product with a deterministic ±1 pseudo-plane (integer-hash components).
    * Computed as an in-row array fold — deterministic order, no shuffle.
    */
  def lshBuckets(emb: DataFrame): DataFrame = {
    val bucket = (0 until LshPlanes).map { i =>
      // BIGINT arithmetic: dim*19349663 + plane*73856093 overflows int32
      val dot =
        s"""aggregate(transform(embedding, (x, i_dim) ->
              CAST(x AS double) * (CASE WHEN ((CAST(i_dim AS bigint) * 19349663 + $i * 73856093) % 97) % 2 = 0
                                   THEN CAST(1.0 AS double) ELSE CAST(-1.0 AS double) END)),
            CAST(0.0 AS double), (acc, v) -> acc + v)"""
      expr(s"CASE WHEN $dot >= 0 THEN shiftleft(1L, $i) ELSE 0L END")
    }.reduce(_ + _)
    emb.select(col("vec_id"), bucket.as("bucket"))
  }

  final val LshBands = 3 // 3 bands x 4 planes: high recall for cos >= ~0.9

  /** Banded bucket rows (vec_id, band, bkey): pairs are candidates when they
    * collide in ANY band (OR-amplification for recall).
    */
  def lshBandedBuckets(emb: DataFrame): DataFrame = {
    val planesPerBand = LshPlanes / LshBands
    // one pass: in-row (band, bkey) structs exploded, not a union of
    // LshBands re-scans of the bucket computation
    val bandStructs = (0 until LshBands).map { bi =>
      val lo = bi * planesPerBand
      struct(lit(bi).as("band"),
        expr(s"(bucket >> $lo) & ${(1 << planesPerBand) - 1}").as("bkey"))
    }
    lshBuckets(emb)
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Raw-double cosine with the same explicit left-to-right fold as
    * [[cosinePermilleExpr]] — used where ORDERING by cosine must agree
    * bit-exactly with an oracle evaluating the identical operation sequence.
    */
  private def cosineDoubleExpr(a: String, b: String): String =
    s"""(aggregate(zip_with($a, $b, (x, y) -> CAST(x AS double) * CAST(y AS double)), CAST(0.0 AS double), (acc, v) -> acc + v)
         / sqrt(aggregate($a, CAST(0.0 AS double), (acc, v) -> acc + CAST(v AS double) * CAST(v AS double)))
         / sqrt(aggregate($b, CAST(0.0 AS double), (acc, v) -> acc + CAST(v AS double) * CAST(v AS double))))"""

  final val IvfK = 8       // coarse-quantizer centroids (cluster: thousands)
  final val IvfStride = 17 // deterministic seed stride over candidate ids

  /** IVF coarse centroids: K strided candidate vectors (deterministic seed
    * medoids — no Lloyd averaging, whose float summation order would not be
    * oracle-reproducible). At scale the centroid table stays tiny and
    * broadcasts; the assignment pass below is map-only.
    */
  def ivfCentroids(emb: DataFrame, nQueries: Int): DataFrame =
    emb.where(col("vec_id") >= nQueries &&
        pmod(col("vec_id") - nQueries, lit(IvfStride)) === 0)
      .orderBy("vec_id").limit(IvfK)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))

  /** Fixed-point scale for k-means centroid accumulation: component sums
    * are rounded to multiples of 2^-24 and summed as LONGS, which is
    * associative and exact — the centroid update is bit-identical under any
    * partitioning or reduce order, unlike naive double summation. Range:
    * |x| <= ~2 per component leaves 2^63 / 2^25 ≈ 2^38 vectors of headroom
    * per (cluster, component) sum.
    */
  final val KMeansScale: Long = 1L << 24

  /** Deterministic Lloyd refinement of [[ivfCentroids]] (k-means with
    * k-means||-style fixed seeding): `iters` assignment+update rounds from
    * the strided seed medoids. Assignment is the same cosine argmax as
    * [[ivfAssign]] (ties to the smaller cid); the update is a per-partition
    * fixed-point accumulation kernel — each task emits only K*(dim+1)
    * longs, embeddings never shuffle, and long addition makes the mean
    * independent of partitioning and reduce order (the float-determinism
    * problem that kept round-3 on raw medoids). Empty clusters keep their
    * previous centroid. Returns (cid, cemb: array<double>) with the seed
    * cids preserved.
    */
  def ivfTrainedCentroids(emb: DataFrame, nQueries: Int,
                          iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val seeds = ivfCentroids(emb, nQueries)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    require(seeds.nonEmpty, "no candidate vectors to seed centroids from")
    val dim = seeds.head._2.length
    val k = seeds.length
    // persist across Lloyd rounds: each iteration's kernel scans the full
    // candidate set, so without this the corpus re-projects `iters` times
    val cands = emb.where(col("vec_id") >= nQueries)
      .select(expr("transform(embedding, x -> CAST(x AS double))").as("e"))
      .as[Array[Double]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Array[Array[Double]] = seeds.map(_._2)
    try for (_ <- 0 until iters) {
      val cs = cents
      val scale = KMeansScale
      val partials = cands.mapPartitions { it =>
        val sums = Array.ofDim[Long](k, dim)
        val counts = new Array[Long](k)
        val cNorm = cs.map(c => math.sqrt(c.map(x => x * x).sum))
        it.foreach { e =>
          var eNorm = 0.0
          var d = 0
          while (d < dim) { eNorm += e(d) * e(d); d += 1 }
          eNorm = math.sqrt(eNorm)
          var best = 0
          var bestCos = Double.NegativeInfinity
          var ci = 0
          while (ci < k) {
            var dot = 0.0
            d = 0
            while (d < dim) { dot += e(d) * cs(ci)(d); d += 1 }
            val cos = dot / eNorm / cNorm(ci)
            // strict > : ties stay with the smaller centroid index (= cid)
            if (cos > bestCos) { bestCos = cos; best = ci }
            ci += 1
          }
          counts(best) += 1
          d = 0
          while (d < dim) {
            // floor(v + 0.5) spelled out, NOT Math.round: since JDK 7 the
            // two differ on half-ulp-below-.5 edges (JDK-6430675), and a
            // SQL oracle can reproduce floor(v + 0.5) bit-for-bit
            sums(best)(d) += math.floor(e(d) * scale + 0.5).toLong
            d += 1
          }
        }
        Iterator.tabulate(k)(ci => (ci, counts(ci), sums(ci)))
      }
      // K*(dim+1) longs per task; long addition is exact and associative,
      // so this reduce is order-free
      val totals = partials.groupByKey(_._1)
        .reduceGroups { (a, b) =>
          (a._1, a._2 + b._2, a._3.zip(b._3).map { case (x, y) => x + y })
        }
        .map(_._2).collect().sortBy(_._1)
      cents = totals.map { case (ci, n, s) =>
        if (n == 0) cs(ci)
        else s.map(v => v.toDouble / scale / n)
      }
    } finally cands.unpersist()
    spark.createDataFrame(seeds.map(_._1).zip(cents).toIndexedSeq)
      .toDF("cid", "cemb")
  }

  /** IVF inverted lists: every candidate vector assigned to its nearest
    * centroid (cosine argmax, ties to the smaller cid). The K centroid
    * scores per vector are produced map-side off the broadcast join and
    * collapsed by a partial-aggregating argmax (`min_by` on the total key
    * (-cosd, cid)) BEFORE any exchange — only (vec_id, cluster) pairs ever
    * shuffle, never embedding columns. At 100 TB `cluster` becomes the
    * storage partition key, so a query touches nProbe partitions instead
    * of the corpus.
    */
  def ivfAssign(emb: DataFrame, nQueries: Int,
                centroids: Option[DataFrame] = None): DataFrame = {
    emb.where(col("vec_id") >= nQueries)
      .join(broadcast(centroids.getOrElse(ivfCentroids(emb, nQueries))), lit(true))
      .withColumn("cosd", expr(cosineDoubleExpr("embedding", "cemb")))
      .select(col("vec_id"), col("cid"), col("cosd"))
      .groupBy(col("vec_id"))
      // total ordering key (cid is unique) -> deterministic argmax
      .agg(min_by(col("cid"), struct(negate(col("cosd")), col("cid"))).as("cluster"))
  }

  /** IVF ANN top-k: rank centroids per query, probe the nProbe nearest
    * clusters' lists, exact-cosine re-rank within them. The approximation
    * is the probe set; scoring is exact. Probe table and query vectors
    * broadcast (both are |q|-bounded); the probed lists stream map-side
    * into the same bounded per-partition top-k merge as [[cosineTopK]] —
    * no per-query single-task rank over the probed candidates.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int, nProbe: Int,
              /** Lloyd rounds for the coarse quantizer; 0 = raw strided
                * seed medoids. Both paths are deterministic and
                * oracle-checked (q37 medoids, q48 trained — the fixed-point
                * kernel unrolls into SQL k-means verbatim) */
              trainIters: Int = 0): DataFrame = {
    val cents =
      if (trainIters > 0) ivfTrainedCentroids(emb, nQueries, trainIters)
      else ivfCentroids(emb, nQueries)
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosd").desc, col("cid").asc)
    // |q| x K rows: the window is driver-scale, not data-scale
    val probes = queries
      .join(broadcast(cents), lit(true))
      .withColumn("cosd", expr(cosineDoubleExpr("qe", "cemb")))
      .withColumn("rn", row_number().over(wProbe)).where(col("rn") <= nProbe)
      .select(col("query_id"), col("cid").as("cluster"))
    val lists = ivfAssign(emb, nQueries, Some(cents))
      .join(emb.select(col("vec_id"), col("embedding").as("ne")), "vec_id")
      .select(col("cluster"), col("vec_id").as("neighbor_id"), col("ne"))
    val scored = lists.join(broadcast(probes), Seq("cluster"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos_permille", expr(cosinePermilleExpr("qe", "ne")))
    mergeTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos_permille"),
        col("rn").cast("long").as("rn"))
      .orderBy("query_id", "rn")
  }

  /** LSH-bucketed near-duplicate vector pairs, exactly verified: pairs that
    * collide in any band AND have exact cosine >= threshold (permille).
    */
  def lshNearDupPairs(emb: DataFrame, thresholdPermille: Int): DataFrame = {
    val b = lshBandedBuckets(emb)
    val cands = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb")).distinct()
    cands
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .withColumn("cos_permille", expr(cosinePermilleExpr("ea", "eb")))
      .where(col("cos_permille") >= thresholdPermille)
      .select("va", "vb", "cos_permille").orderBy("va", "vb")
  }
}
