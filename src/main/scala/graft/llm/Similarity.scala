package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Top-k search:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is broadcast, so
  *    the candidate side streams once with NO shuffle of the big table —
  *    this is the correctness baseline and also the right plan whenever the
  *    query set is small (the common "retrieve for this batch" case).
  *  - approximate variants, each a candidate stage followed by the shared
  *    exact rerank in the original space: [[lshTopK]] (random-hyperplane
  *    sign LSH with Hamming multi-probe — candidates shuffle only on the
  *    small bucket id), [[rpTopK]] (JL-projected prefilter) and
  *    [[sq8TopK]] (int8-quantized prefilter).
  *  - trained indexes — IVF ([[ivfTopK]]), PQ ([[pqTopK]]) and IVF-PQ
  *    ([[ivfPqTopK]]). Each has ONE code path with two halves: an
  *    `*IndexState` call builds the index (deterministic Lloyd's on a
  *    bounded driver-side sample, then one corpus pass that assigns
  *    inverted lists or encodes PQ codes) and a `*TopKFromState` call
  *    queries it. The `*TopK` calls are exactly build-then-query; a
  *    production store persists the state once and runs only the query
  *    half per session.
  *
  * Near-duplicate search: [[embeddingNearDup]] (exact all-pairs by
  * default, banded sign-LSH for production thresholds).
  *
  * All scores are computed in double and integerized (×1e6, round) so
  * results are engine-portable and order-deterministic.
  */
object Similarity {

  /** Sum of element-wise products, computed in double, left-to-right —
    * a native Catalyst expression (codegen'd loop; one virtual call per
    * row interpreted) instead of `aggregate(zip_with(...))`, which
    * evaluates a lambda per element. Same accumulation order, so scores
    * stay bit-identical to the SQL oracles. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** Exact top-k cosine neighbours for the query vectors `vec_id <
    * numQueries` (self excluded). Returns (qid, nid, score_r, rank). */
  def bruteForceTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    val withNorm = emb.select(
      col("vec_id").cast("long").as("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val q = withNorm.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val c = withNorm
      .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
    val scoreR = floor(dot(col("qv"), col("nv")) / (col("qn") * col("nn")) * 1e6 + 0.5)
      .cast("long")
    val w = Window.partitionBy("qid").orderBy(col("score_r").desc, col("nid").asc)
    c.crossJoin(broadcast(q)).where(col("qid") =!= col("nid"))
      .withColumn("score_r", scoreR)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("score_r"), col("rank").cast("long").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (vec_a < vec_b) with rounded
    * score ≥ `minScoreR` (1e6-scaled — thresholding on the integerized
    * score keeps engines bit-agreed at the boundary).
    *
    * Two modes, selected by `bands`:
    *
    * `bands = 0` (the DEFAULT — the oracle-gate contract): EXACT
    * all-pairs via [[embeddingNearDupExact]]. A probabilistic banding
    * can NEVER hold a full-recall contract at every scale: at the
    * 0.45-cosine threshold (θ≈63°) the old 24×4 default's per-pair
    * miss probability is (1-(1-θ/π)^4)^24 ≈ 0.9% — the sf0.001/0.01/
    * 0.1 gates happened to collide every pair under the fixed seed,
    * and the first on-disk sf1 run surfaced 124 missing borderline
    * pairs out of 16 848 (round 13; the ScaleDecadeSpec lesson in
    * oracle form). Since the low threshold makes banding density ≈0.8
    * of all pairs anyway, exactness costs ~25% more verify work and
    * removes the scale decay entirely.
    *
    * `bands > 0`: the banded sign-LSH path — candidates from
    * [[nearDupCandidates]] (shuffle of ids only, never vectors), exact
    * verify kernel on the survivors. This is the PRODUCTION shape for
    * real-corpus thresholds: at ≥0.9 cosine,
    * [[ProductionNearDupParams]] (16×16) prunes to <1% of all pairs
    * with per-pair miss < 1e-8 at the threshold (the LlmSpec density
    * guard pins it), which is a recall trade a production near-dup
    * pass accepts — unlike the gate, whose contract is every pair. */
  def embeddingNearDup(emb: DataFrame, minScoreR: Long = 450000L,
      bands: Int = 0, rowsPerBand: Int = 4, seed: Long = 13L): DataFrame = {
    if (bands == 0) return embeddingNearDupExact(emb, minScoreR)
    val spark = emb.sparkSession
    import spark.implicits._
    // empty input short-circuits inside nearDupCandidates (one dim probe,
    // not two); an empty candidate table flows through the joins and the
    // verify kernel to an empty (vec_a, vec_b, score_r) result
    val par = spark.sparkContext.defaultParallelism
    // candidate id pairs are tiny in bytes but the verify kernel is ~200
    // flops per row; pin the exchange wide so AQE's byte-based sizing
    // cannot fold the verification into a handful of tasks
    val cand = nearDupCandidates(emb, bands, rowsPerBand, seed)
      .repartition(par, col("vec_a"), col("vec_b"))
    // 3. rejoin vectors and verify exactly
    val ea = emb.select(col("vec_id").cast("long").as("vec_a"), col("embedding").as("va"))
    val eb = emb.select(col("vec_id").cast("long").as("vec_b"), col("embedding").as("vb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"), col("va"), col("vb"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (ida, idb, va0, vb0) =>
          val n = va0.length
          var na = 0.0
          var nbn = 0.0
          var s = 0.0
          var i = 0
          while (i < n) {
            val a = va0(i).toDouble
            val b = vb0(i).toDouble
            na += a * a; nbn += b * b; s += a * b
            i += 1
          }
          val r = math.floor(s / (math.sqrt(na) * math.sqrt(nbn)) * 1e6 + 0.5).toLong
          if (r >= minScoreR) Some((ida, idb, r)) else None
        }
      }.toDF("vec_a", "vec_b", "score_r")
  }

  /** Corpus-bytes bound below which [[embeddingNearDupExact]] takes the
    * single-broadcast fast path (one driver-bounded collect of ≤ this many
    * raw float32 bytes, zero shuffle). Above it the blocked cross join
    * runs instead, so no call ever materializes more than this on the
    * driver. 64 MB ≈ 260k vectors at d=64. MEASURED calibration
    * (EmbedBlockProbe, round 16): under the bound the broadcast kernel
    * is 2.43× faster than forced-blocked (sf10's 51 MB table); 1.2×
    * past it the blocked plan costs only 1.10× the (driver-unsafe)
    * forced broadcast (300k×d64 = 76.8 MB) — so raising the bound buys
    * ≤10% at the cost of a corpus-sized driver collect. Keep 64 MB. */
  val ExactEmbedBroadcastMaxBytes: Long = 64L << 20

  /** Per-block raw-float32 budget for [[embeddingNearDupBlocked]] — each
    * block is one Spark broadcast (executors hold one block + their
    * a-side stream), so this, not corpus size, is the memory envelope. */
  val ExactEmbedBlockBytes: Long = 64L << 20

  /** EXACT embedding near-dup — full-recall all-pairs, auto-dispatched:
    *
    *  - corpus ≤ `broadcastMaxBytes` raw floats: the single-broadcast
    *    kernel ([[embeddingNearDupBroadcast]]) — one bounded collect,
    *    zero shuffle, fastest at gate scales (0.4 s at sf0.1; 2.4×
    *    faster than forced-blocked on sf10's 51 MB table — measured,
    *    EmbedBlockProbe r16);
    *  - above it: the blocked cross join ([[embeddingNearDupBlocked]]) —
    *    sorted id-range blocks of ≤ `blockBytes` each broadcast against
    *    the streamed a-side, NO corpus-sized driver materialization.
    *
    * Both paths and the banded verify use the identical left-to-right
    * double fold ([[graft.functions.DotProduct]] / the SQL oracle), so
    * every path stays bit-agreed at the threshold; LlmSpec asserts
    * blocked == broadcast == brute on the gate corpora. */
  def embeddingNearDupExact(emb: DataFrame, minScoreR: Long = 450000L,
      broadcastMaxBytes: Long = ExactEmbedBroadcastMaxBytes,
      blockBytes: Long = ExactEmbedBlockBytes): DataFrame = {
    val spark = emb.sparkSession
    val dim = embeddingDim(emb).getOrElse(
      return emptyResult(spark, "vec_a BIGINT, vec_b BIGINT, score_r BIGINT"))
    // ONE id scan decides the path AND supplies the block cuts: count +
    // an OVERSAMPLED quantile grid at the 512-block cap granularity in a
    // single aggregate job (the old shape paid a count() job on every
    // call, then approxQuantile's own scan again on the blocked path).
    // Grid accuracy 10000 ⇒ rank error ≤ 1e-4 of mass per cut.
    val gridProbs = (1 until ExactEmbedGridBlocks)
      .map(i => i.toDouble / ExactEmbedGridBlocks).mkString(",")
    val row = emb.select(col("vec_id").cast("long").as("id"))
      .agg(count(lit(1)).as("n"),
        expr(s"percentile_approx(id, array($gridProbs), 10000)").as("grid"))
      .head()
    val n = row.getLong(0)
    val corpusBytes = n * dim.toLong * 4L
    if (corpusBytes <= broadcastMaxBytes) embeddingNearDupBroadcast(emb, minScoreR)
    else {
      val grid = row.getSeq[Long](1)
      val blocks = math.min(ExactEmbedGridBlocks.toLong,
        (corpusBytes + blockBytes - 1) / math.max(1L, blockBytes)).toInt
      // cuts at probs i/blocks, snapped to the nearest oversampled grid
      // point: each block holds its target mass ± one 1/512 grid cell ±
      // the 1e-4 sketch error — the per-block bound is APPROXIMATE (a
      // block can run ~(512/blocks)% over target), which only ever means
      // a modestly bigger broadcast, never a mis-covered id
      val cuts = (1 until blocks).map { i =>
        val g = math.round(i.toDouble * ExactEmbedGridBlocks / blocks).toInt
        grid(math.min(grid.size - 1, math.max(0, g - 1)))
      }.distinct.sorted
      embeddingNearDupBlockedCuts(emb, minScoreR, cuts)
    }
  }

  /** Hard cap on blocked-path block count AND the oversampling
    * granularity of the dispatcher's one-scan quantile grid. 512 blocks
    * ≈ 10⁸ vectors at d=64 before exact all-pairs is quadratically
    * infeasible in any shape (banding/ANN are the answer past it). */
  private val ExactEmbedGridBlocks = 512

  /** Blocked exact all-pairs: the b-side is cut into `blockCount` sorted
    * id-range blocks (boundaries from a distributed quantile sketch —
    * never a collect); each block is BROADCAST and cross-joined against
    * the a-side rows with `a_id < blockHi` (range blocks, not hash
    * blocks, exactly so this prefilter halves total pair work: the a-side
    * for block k only carries ids that can precede someone in k). The
    * rounded-score threshold sits INSIDE the join condition after the
    * short-circuiting `a_id < b_id`, so the whole pair loop runs in
    * whole-stage codegen and non-survivors never materialize as rows.
    *
    * Memory: executors hold one block (≤ [[ExactEmbedBlockBytes]]) plus a
    * streamed a-side partition; the driver holds one block transiently
    * while Spark builds each broadcast. Envelope: the plan is a union of
    * `blockCount` joins (capped 512 ≈ 10⁸ vectors at d=64) — past that,
    * exact all-pairs is quadratically infeasible no matter the shape and
    * the banded / ANN paths are the production answer. */
  private[graft] def embeddingNearDupBlocked(emb: DataFrame, minScoreR: Long,
      blockCount: Int): DataFrame = {
    // standalone entry (specs): computes its own boundaries; the
    // dispatcher instead passes cuts from its one-scan oversampled grid
    val probs = (1 until math.max(2, blockCount)).map(_.toDouble / blockCount).toArray
    val cuts = emb.select(col("vec_id").cast("long").as("id"))
      .stat.approxQuantile("id", probs, 0.001)
      .map(_.toLong).distinct.sorted.toSeq
    embeddingNearDupBlockedCuts(emb, minScoreR, cuts)
  }

  /** The blocked-join builder behind both [[embeddingNearDupBlocked]]
    * shapes: `cuts` are the sorted id-range boundaries (distinct+sorted
    * by callers, so a skewed sketch can only MERGE blocks — a bigger
    * broadcast — never mis-cover an id). */
  private[graft] def embeddingNearDupBlockedCuts(emb: DataFrame,
      minScoreR: Long, cuts: Seq[Long]): DataFrame = {
    val withNorm = emb.select(
      col("vec_id").cast("long").as("id"), col("embedding").as("v"),
      norm(col("embedding")).as("nrm"))
    val ranges: Seq[(Option[Long], Option[Long])] =
      if (cuts.isEmpty) Seq((None, None))
      else (None +: cuts.map(Some(_))).zip(cuts.map(Some(_)) :+ None)
    val a = withNorm.select(
      col("id").as("a_id"), col("v").as("a_v"), col("nrm").as("a_n"))
    val scoreR = floor(
      dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")) * 1e6 + 0.5)
      .cast("long")
    ranges.map { case (lo, hi) =>
      val b = withNorm
        .filter(lo.map(col("id") >= _).getOrElse(lit(true)) &&
          hi.map(col("id") < _).getOrElse(lit(true)))
        .select(col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_n"))
      val aSide = hi.map(h => a.filter(col("a_id") < h)).getOrElse(a)
      aSide.join(broadcast(b),
          col("a_id") < col("b_id") && scoreR >= minScoreR)
        .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
          scoreR.as("score_r"))
    }.reduce(_ union _)
  }

  /** Single-broadcast exact kernel: every (a, b) pair with b's id above
    * a's scores against a BROADCAST copy of the whole vector set — zero
    * shuffle, zero misses, work n²d/2 spread evenly over the a-side
    * partitions. The one bounded collect in the engine: the DISPATCHER
    * ([[embeddingNearDupExact]]) guarantees ≤
    * [[ExactEmbedBroadcastMaxBytes]] raw floats reach it. The per-pair
    * kernel is the identical left-to-right double fold as the banded
    * verify and the SQL oracle, so all paths stay bit-agreed at the
    * threshold. */
  private[graft] def embeddingNearDupBroadcast(emb: DataFrame,
      minScoreR: Long = 450000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val all = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ids: Array[Long] = all.map(_._1)
    val vecs: Array[Array[Double]] = all.map(_._2.map(_.toDouble))
    val norms: Array[Double] =
      vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (bIds, bVecs, bNorms) = bc.value
        it.flatMap { case (ida, va0) =>
          // imperative pair loop, nothing allocated per candidate pair
          // (survivors are ~1e-4 of candidates; an Option-per-pair shape
          // turns the kernel into allocation instead of FMA at decade
          // scale — the round-15 ngram-bitset lesson)
          val va = va0.map(_.toDouble)
          val d = va.length
          var naSq = 0.0
          var k = 0
          while (k < d) { naSq += va(k) * va(k); k += 1 }
          val na = math.sqrt(naSq)
          val at = java.util.Arrays.binarySearch(bIds, ida)
          val start = if (at >= 0) at + 1 else -at - 1
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          var j = start
          while (j < bIds.length) {
            val vb = bVecs(j)
            var s = 0.0
            var i = 0
            while (i < d) { s += va(i) * vb(i); i += 1 }
            val r = math.floor(s / (na * bNorms(j)) * 1e6 + 0.5).toLong
            if (r >= minScoreR) out += ((ida, bIds(j), r))
            j += 1
          }
          out.iterator
        }
      }.toDF("vec_a", "vec_b", "score_r")
  }

  /** Banding parameters for production near-dup thresholds (≥0.9 cosine):
    * 16 bands × 16 bits. See the density table on [[embeddingNearDup]];
    * LlmSpec asserts these prune to <1% of all pairs on the synthetic set. */
  val ProductionNearDupParams: (Int, Int) = (16, 16)

  /** Steps 1-2 of [[embeddingNearDup]] — the banded sign-LSH candidate id
    * pairs (vec_a < vec_b, distinct). Exposed package-private as the
    * candidate-density guard's measurement hook.
    *
    *  1. signature: each vector gets `bands` band keys of `rowsPerBand`
    *     sign-LSH bits each (seeded hyperplanes, primitive-double kernel in
    *     `mapPartitions` — HOF Columns evaluate interpreted and the plane
    *     dots are the hot path);
    *  2. candidates: self-join of the (vec_id, band, key) table on
    *     (band, key) — a shuffle of ids+two ints only, never embeddings —
    *     then `distinct()` on the id PAIR. */
  private[graft] def nearDupCandidates(emb: DataFrame, bands: Int,
      rowsPerBand: Int, seed: Long): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = embeddingDim(emb).getOrElse(
      return emptyResult(spark, "vec_a BIGINT, vec_b BIGINT"))
    val bcP = spark.sparkContext.broadcast(planes(bands * rowsPerBand, dim, seed))
    val nb = bands
    val rpb = rowsPerBand
    val ds = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    // 1. (vec_id, band, key) — one row per band per vector
    val sig = ds.mapPartitions { it =>
      val ps = bcP.value
      it.flatMap { case (id, v0) =>
        require(v0.length == dim,
          s"embedding dim ${v0.length} != $dim (hyperplanes are sized from the first row)")
        val v = new Array[Double](v0.length)
        var i = 0
        while (i < v0.length) { v(i) = v0(i).toDouble; i += 1 }
        (0 until nb).iterator.map { b =>
          var key = 0L
          var j = 0
          while (j < rpb) {
            val p = ps(b * rpb + j)
            var s = 0.0
            var k = 0
            while (k < v.length) { s += v(k) * p(k); k += 1 }
            key = key * 2 + (if (s >= 0) 1L else 0L)
            j += 1
          }
          (id, b, key)
        }
      }
    }.toDF("vec_id", "band", "key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the returned plan is lazy, so THIS call's cache must stay alive; the
    // previous call's is dead weight — bound the leak to one signature table
    OpCaches.track("similarity.sig", Seq(sig))
    // 2. bucket self-join → distinct id pairs (ids only — no vectors shuffled)
    sig.select(col("vec_id").as("vec_a"), col("band"), col("key"))
      .join(sig.select(col("vec_id").as("vec_b"), col("band"), col("key")),
        Seq("band", "key"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  /** Embedding width, read from the first row (one tiny driver-side job) —
    * hyperplane construction must match the data, not a hardcoded 64.
    * None when the table is empty: callers short-circuit to an empty result
    * instead of throwing NoSuchElementException. */
  private def embeddingDim(emb: DataFrame): Option[Int] =
    emb.select(size(col("embedding"))).head(1).headOption.map(_.getInt(0))

  /** Empty result with a pinned schema (the empty-input short-circuit must
    * still have the columns downstream code selects on). */
  private def emptyResult(spark: org.apache.spark.sql.SparkSession,
      colsDdl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(colsDdl))

  /** The empty top-k result every trained index returns without state. */
  private def emptyTopK(spark: org.apache.spark.sql.SparkSession): DataFrame =
    emptyResult(spark, "qid BIGINT, nid BIGINT, score_r BIGINT, rank BIGINT")

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer ANN
    * shape used at corpus scale: a small k-means codebook is trained on a
    * bounded driver-side sample (training cost independent of corpus
    * size), every vector is assigned to its nearest centroid's inverted
    * list in one broadcast+kernel pass, and each query scores exactly
    * against only the `nProbe` nearest lists — a shuffle on the (small)
    * centroid id, never on vectors, same join shape as [[lshTopK]].
    * Approximate by design (recall measured in LlmSpec); fully
    * deterministic ([[lloyd]] over the vec_id-ordered sample). Exactly
    * [[ivfIndexState]] followed by [[ivfTopKFromState]]. */
  def ivfTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 5,
      sampleSize: Int = 4096): DataFrame =
    ivfIndexState(emb, nLists, iters, sampleSize) match {
      case Some((centroids, lists)) =>
        ivfTopKFromState(emb, centroids, lists, numQueries, k, nProbe)
      case None => emptyTopK(emb.sparkSession)
    }

  /** Candidate (qid, nid) pairs of IVF's coarse probing stage — each
    * query's nProbe nearest lists joined against the inverted lists,
    * pairs deduplicated, no scoring tail — so the coarse quantizer
    * composes with either scoring backend: exact rerank
    * ([[ivfTopKFromState]]) or ADC over the PQ code table
    * ([[ivfPqTopKFromState]] — the literal IVF-PQ pairing). */
  private[graft] def ivfCandidates(emb: DataFrame, centroids: Array[Array[Double]],
      lists: DataFrame, numQueries: Int, nProbe: Int): DataFrame =
    lists.select(col("nid").cast("long"), col("list").cast("int"))
      .join(broadcast(ivfProbes(emb, centroids, numQueries, nProbe)), "list")
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()

  /** Deterministic Lloyd's k-means — the ONE trainer behind the IVF
    * coarse quantizer and every PQ sub-quantizer: init takes the first
    * `k` points in the given order, each iteration walks the points in
    * that fixed order, empty cells keep their previous centroid, and L2
    * ties resolve to the lowest index, so no RNG is involved at all. */
  private def lloyd(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(points.length >= k, s"need >= $k sample vectors")
    val dim = points.head.length
    var cs = Array.tabulate(k)(i => points(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { v =>
        val c = nearestCentroid(v, cs)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cs = Array.tabulate(k)(c =>
        if (counts(c) == 0) cs(c)
        else { val m = sums(c); var i = 0; while (i < dim) { m(i) /= counts(c); i += 1 }; m })
      it += 1
    }
    cs
  }

  /** The bounded training sample every index trainer reads: the first
    * `sampleSize` vectors in vec_id order, collected to the driver (the
    * corpus itself is never collected). */
  private def trainingSample(emb: DataFrame, sampleSize: Int): Array[Array[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .sort("vec_id").limit(sampleSize).collect().map(_._2)
  }

  /** Per-query probe lists: the nProbe nearest centroids (squared-L2,
    * ties to the lower list id via the stable sort over (d, c)). */
  private def ivfProbes(emb: DataFrame, centroids: Array[Array[Double]],
      numQueries: Int, nProbe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(centroids)
    val dim = centroids.head.length
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .filter(_._1 < numQueries)
      .mapPartitions { rows =>
        val cs = bcC.value
        rows.flatMap { case (id, v0) =>
          val v = v0.map(_.toDouble)
          cs.indices.map { c =>
            var d = 0.0
            var i = 0
            while (i < dim) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
            (d, c)
          }.sorted.take(nProbe).map { case (_, c) => (id, c) }
        }
      }.toDF("qid", "list")
  }

  /** Johnson–Lindenstrauss signed random projection: embed each vector
    * into `dOut` dims via seeded Gaussian planes — the standard cheap
    * prefilter for corpus-scale similarity search (project once, search
    * in the small space, verify survivors exactly). One narrow
    * `mapPartitions` kernel pass, no shuffle anywhere; the projection
    * matrix is dim×dOut doubles broadcast once, so the cost is linear in
    * corpus size and embarrassingly parallel. Output schema matches the
    * input embedding table, so every downstream operator (brute-force
    * top-k, LSH, IVF, near-dup) runs unchanged on the reduced space. */
  def rpReduce(emb: DataFrame, dOut: Int = 16, seed: Long = 7L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = embeddingDim(emb).getOrElse(
      return emptyResult(spark, "vec_id BIGINT, embedding ARRAY<FLOAT>"))
    val scale = 1.0 / math.sqrt(dOut.toDouble)
    val bcP = spark.sparkContext.broadcast(planes(dOut, dim, seed))
    emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ps = bcP.value
        it.map { case (id, v) =>
          require(v.length == dim,
            s"embedding dim ${v.length} != $dim (projection sized from the first row)")
          val out = new Array[Float](ps.length)
          var j = 0
          while (j < ps.length) {
            val p = ps(j)
            var s = 0.0
            var k = 0
            while (k < p.length) { s += v(k) * p(k); k += 1 }
            out(j) = (s * scale).toFloat
            j += 1
          }
          (id, out)
        }
      }.toDF("vec_id", "embedding")
  }

  /** Approximate top-k by prefilter-and-rerank: retrieve a
    * `k * poolFactor` candidate pool per query in the JL-reduced space
    * (cheap — `dOut`-float dot products), then exact-rerank ONLY the
    * pool in the original space. The production two-stage ANN shape:
    * full-width vectors are touched `k·poolFactor` times per query, not
    * corpus-size times, and the reduced-space scan streams `dOut/dim` of
    * the bytes a full brute force would. Recall gated in llm_ann_recall
    * (reduced-space ordering only has to get the true neighbours into
    * the pool, not rank them exactly — which is why the pool width and
    * the reduced dimension are the two recall levers). Defaults chosen
    * SCALE-ROBUSTLY: recall at fixed (dOut, pool) decays as the corpus
    * grows (dOut=16/pool=40x measured 0.76/0.92/0.54 recall@5 at
    * sf0.001/0.01/0.1; dOut=32/pool=80x measured 1.00/1.00/0.88 across
    * those three decades but decayed to 0.54 at the sf1 fourth decade —
    * the ScaleDecadeSpec measurement, 2026-08-14, PLANS.md). At the
    * 20k-vector decade the POOL is the binding lever, not JL distortion
    * (dOut=64 alone recovered only 0.70): isotropic 64-dim similarity
    * gaps shrink with n, so the true top-5 sit past rank 400 in the
    * reduced order. dOut=48/pool=240x measures 0.84 at sf1 (and ≥0.88
    * at every smaller decade) but thinned to 0.76 at the sf10 fifth
    * decade — one decade from breaching the 0.75 floor — so round 15
    * re-tuned one decade ahead on the same ~log-n schedule:
    * dOut=64/pool=480x measures 0.90 at sf10 (PqProbe 2026-08-16),
    * 2400 rerank pairs per query, still corpus-size-independent. (At
    * this corpus's native d=64 the dOut=64 "projection" is a rotation,
    * not a reduction — the lever that still bites here is the pool; at
    * production dims ≫64 the same dOut is a genuine dim cut.) Per
    * Johnson-Lindenstrauss, dOut should keep growing ~log n — bump
    * (dOut, pool) again before the next corpus decade, and re-measure
    * with PqProbe/ScaleProbeMain. */
  def rpTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
      dOut: Int = 64, seed: Long = 7L, poolFactor: Int = 480): DataFrame = {
    val pool = bruteForceTopK(rpReduce(emb, dOut, seed), numQueries, k * poolFactor)
      .select("qid", "nid")
    exactRerank(emb, pool, numQueries, k)
  }

  /** The dequantized SQ8 view of the embedding table — EXACTLY the
    * vectors a store serving int8-quantized embeddings would hand a
    * scanner (same per-dim affine grid, round-half-up level, midpoint
    * dequant, and integer arithmetic as [[embedQuantize]], whose gate
    * pins the reconstruction error this view inherits). Per-dim (mn, r)
    * come from one dim-sized aggregate (bounded driver collect — the
    * k-means-centroid precedent) and re-enter as literal arrays, so the
    * view itself is a ZERO-SHUFFLE projection the scan streams through.
    */
  def sq8Dequant(emb: DataFrame): DataFrame = {
    val ve = emb.select(col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1e5 + lit(0.5)).cast("long")).as("ve"))
    val stats = ve.select(posexplode(col("ve")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (stats.isEmpty)
      return emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val mnA = array(stats.map(s => lit(s._2)).toIndexedSeq: _*)
    val rA = array(stats.map(s => lit(s._3 - s._2)).toIndexedSeq: _*)
    ve.select(col("vec_id"),
      transform(col("ve"), (x, i) =>
        (sq8Vhat(x, element_at(mnA, i + 1), element_at(rA, i + 1))
          .cast("double") / lit(1e5)).cast("float")).as("embedding"))
  }

  /** Round-half-up SQ8 level (0..255) of e5 coordinate `x` on the dim's
    * affine grid [mn, mn+r]; [[sq8Vhat]] guards the r = 0 grid. */
  private def sq8Level(x: Column, mn: Column, r: Column): Column =
    call_function("div", (x - mn) * lit(510L) + r, r * lit(2L))

  /** Midpoint dequantization of the SQ8 level — the ONE definition of the
    * quantize→reconstruct arithmetic, shared by the [[embedQuantize]]
    * gate and the [[sq8Dequant]] ANN view, so the gate's pinned
    * reconstruction error is exactly the error the view inherits (a grid
    * or rounding change cannot drift between them). r = 0 (constant dim)
    * collapses to mn. */
  private[llm] def sq8Vhat(x: Column, mn: Column, r: Column): Column =
    when(r === lit(0L), mn)
      .otherwise(mn + call_function("div",
        sq8Level(x, mn, r) * r * lit(2L) + lit(255L), lit(510L)))

  /** Approximate top-k over SQ8-quantized vectors with exact rerank —
    * the storage-compressed ANN shape a 100 TB embedding store actually
    * runs: the first-stage scan streams int8-derived vectors (4x fewer
    * bytes than f32 — at scale the store holds codes + the dim-sized
    * grid table, not floats), the full-width vectors are touched only
    * `k·poolFactor` times per query in the rerank. Quantization error is
    * bounded (the [[embedQuantize]] gate), so a modest pool recovers
    * near-exact recall — the floor is pinned accordingly HIGH in the
    * entry gate; a grid/rounding regression shows up as a recall drop. */
  def sq8TopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
      poolFactor: Int = 4): DataFrame = {
    val pool = bruteForceTopK(sq8Dequant(emb), numQueries, k * poolFactor)
      .select("qid", "nid")
    exactRerank(emb, pool, numQueries, k)
  }

  /** Index of the centroid in `cs` nearest (squared L2) to `v` —
    * first-wins on exact ties, so assignment is deterministic for a
    * fixed codebook order. Shared by the IVF coarse quantizer and the
    * PQ sub-quantizers. */
  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val cc = cs(c)
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - cc(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Unit-normalized double view of a float vector (zero vectors pass
    * through unscaled). PQ trains/encodes on the NORMALIZED vectors so
    * the ADC inner product approximates cosine directly — the per-vector
    * norm would otherwise have to be stored beside the codes. */
  private def unitVec(v0: Array[Float]): Array[Double] = {
    val v = new Array[Double](v0.length)
    var n2 = 0.0
    var i = 0
    while (i < v0.length) { val x = v0(i).toDouble; v(i) = x; n2 += x * x; i += 1 }
    val n = math.sqrt(n2)
    if (n > 0) { i = 0; while (i < v.length) { v(i) /= n; i += 1 } }
    v
  }

  /** Per-query ADC lookup tables: lut(s)(c) = ⟨query subvector s,
    * codebook s centroid c⟩ — numQueries × m × ksub doubles, a bounded
    * driver set (the query side of every variant broadcasts anyway). The
    * subspace width is the books' centroid width. */
  private def adcLuts(emb: DataFrame, books: Array[Array[Array[Double]]],
      numQueries: Int): Array[(Long, Array[Array[Double]])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sub = books(0)(0).length
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .filter(_._1 < numQueries).collect().sortBy(_._1).map { case (qid, v0) =>
        val q = unitVec(v0)
        val lut = books.zipWithIndex.map { case (book, s) =>
          book.map { cc =>
            var d = 0.0
            var i = 0
            while (i < sub) { d += q(s * sub + i) * cc(i); i += 1 }
            d
          }
        }
        (qid, lut)
      }
  }

  /** The ADC score of one code row under one query's LUT — m array
    * lookups + adds, the step that replaces a full-width dot product.
    * ONE definition for both ADC scans: subspaces summed left-to-right,
    * e6 floor rounding. */
  private def adcScoreR(lut: Array[Array[Double]], cd: Array[Int]): Long = {
    var s = 0.0
    var i = 0
    while (i < cd.length) { s += lut(i)(cd(i)); i += 1 }
    math.floor(s * 1e6 + 0.5).toLong
  }

  /** The flat-PQ ADC scan: score every (nid, codes) row against every
    * query's LUT, self excluded. */
  private def adcScore(codes: org.apache.spark.sql.Dataset[(Long, Array[Int])],
      bcL: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Array[Double]])]])
      : DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes.mapPartitions { rows =>
      val ls = bcL.value
      rows.flatMap { case (nid, cd) =>
        ls.iterator.filter(_._1 != nid).map { case (qid, lut) =>
          (qid, nid, adcScoreR(lut, cd))
        }
      }
    }.toDF("qid", "nid", "approx_r")
  }

  /** The per-query candidate pool cut over ADC-scored (qid, nid,
    * approx_r) rows — ties break on ascending nid like every variant. */
  private def adcPool(scored: DataFrame, poolSize: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("approx_r").desc, col("nid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= poolSize).select("qid", "nid")
  }

  /** Product-quantized approximate top-k with exact rerank — the
    * memory-compressed ANN shape (FAISS's PQ/IVF-PQ standard) a 100 TB
    * embedding store actually serves from: vectors are stored as `m`
    * sub-quantizer codes (the code table of [[pqIndexState]] — ~3 % of
    * the f32 bytes at the defaults), and query scoring is ADC
    * (asymmetric distance computation): per query, an m×ksub table of
    * partial inner products between the query's subvectors and the
    * codebook centroids is built ONCE, so scoring a corpus vector is `m`
    * array lookups + adds — no full-width arithmetic until the exact
    * rerank touches the `k·poolFactor` pool. Exactly [[pqIndexState]]
    * followed by [[pqTopKFromState]].
    *
    * Plan shape: codebook training is a bounded driver-side sample (the
    * IVF discipline — cost independent of corpus size); encoding is one
    * broadcast+kernel pass, no shuffle; the ADC scan streams the narrow
    * code table once and shuffles only (qid, nid, score) longs into the
    * per-query pool cut; the rerank joins full vectors for pool-sized
    * candidates only. Orthogonal to IVF by construction — composing the
    * two (probe IVF lists, ADC-score within them) is [[ivfPqTopK]].
    *
    * Deterministic end-to-end: seedless (sample order = vec_id order),
    * ADC sums run over subspaces left-to-right, pool and rerank ties
    * break on ascending nid. Approximate by design — recall is pinned by
    * the llm_sim_topk_pq gate; the pool is the recall lever, the
    * codebook resolution `ksub` the distortion lever. Defaults chosen
    * SCALE-ROBUSTLY by the rp precedent (PqProbe, PLANS.md):
    * ksub=16/pool=40x decays 1.00/0.98/0.84/0.56 across
    * sf0.001/0.01/0.1/sf1; the round-14 ksub=32/pool=160x held 0.90 at
    * sf1 but decayed to 0.72 at the sf10 fifth decade — the re-tuned
    * ksub=64/pool=320x measures 0.92 there (2026-08-16) with both costs
    * still corpus-size-independent (8×64 LUT per query, 1600 rerank
    * pairs per query). Like JL's dOut, resolution should grow ~log n —
    * re-measure with PqProbe before the next corpus decade. */
  def pqTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
      m: Int = 8, ksub: Int = 64, iters: Int = 5,
      sampleSize: Int = 4096, poolFactor: Int = 320): DataFrame =
    pqIndexState(emb, m, ksub, iters, sampleSize) match {
      case Some((books, codes)) =>
        pqTopKFromState(emb, books, codes, numQueries, k, poolFactor)
      case None => emptyTopK(emb.sparkSession)
    }

  /** Build the PQ index (Jégou et al., TPAMI 2011) — what a production
    * embedding store writes ONCE per index build and every query session
    * reads back, instead of re-training and re-encoding per query (the
    * [[Dedup.shingleState]]/[[Dedup.bandState]] precedent applied to
    * ANN). Subspace `s` covers dims [s·sub, (s+1)·sub) of the
    * unit-normalized vectors and gets its own `ksub`-centroid codebook,
    * trained by [[lloyd]] on the bounded driver-side sample; one
    * broadcast+kernel pass then encodes every vector. Returns
    * `books(subspace, cid, centroid array<double>)` — the trained model,
    * m·ksub rows, driver-bounded — and `codes(vec_id, codes array<int>)`
    * — the ONE corpus-wide artifact (~3 % of the raw f32 bytes at the
    * defaults). Both plain UNCACHED frames (the expected single consumer
    * is a `.write`).
    *
    * CONSISTENCY CONTRACT (the [[Dedup.shingleState]] wording): the
    * `(m, ksub)` used to build the artifacts are BAKED INTO their
    * shapes — codes index into books by position — so the query side
    * reads them back structurally; but artifacts from different builds
    * must never mix (a code table encoded against other codebooks
    * silently scores garbage). Store them together, version them
    * together. Returns None on an empty corpus. */
  def pqIndexState(emb: DataFrame, m: Int = 8, ksub: Int = 64,
      iters: Int = 5, sampleSize: Int = 4096): Option[(DataFrame, DataFrame)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = trainingSample(emb, sampleSize).map(unitVec)
    if (sample.isEmpty) return None
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    val sub = dim / m
    val books = Array.tabulate(m)(s => lloyd(
      sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)),
      ksub, iters))
    val bcB = spark.sparkContext.broadcast(books)
    val codes = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val bs = bcB.value
        rows.map { case (id, v0) =>
          val v = unitVec(v0)
          val cd = new Array[Int](bs.length)
          var s = 0
          while (s < bs.length) {
            cd(s) = nearestCentroid(
              java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub), bs(s))
            s += 1
          }
          (id, cd)
        }
      }
    val bookRows = for {
      (book, s) <- books.zipWithIndex.toSeq
      (c, cid) <- book.zipWithIndex
    } yield (s, cid, c)
    Some((bookRows.toDF("subspace", "cid", "centroid"), codes.toDF("vec_id", "codes")))
  }

  /** The PQ codebooks of a [[pqIndexState]] `books` table, indexed
    * (subspace)(cid); empty when the table is. */
  private def booksFromState(books: DataFrame): Array[Array[Array[Double]]] = {
    val spark = books.sparkSession
    import spark.implicits._
    val rows = books
      .select(col("subspace").cast("int"), col("cid").cast("int"), col("centroid"))
      .as[(Int, Int, Array[Double])].collect()
    if (rows.isEmpty) Array.empty
    else Array.tabulate(rows.iterator.map(_._1).max + 1)(s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3))
  }

  /** [[pqTopK]]'s query side over PRECOMPUTED state ([[pqIndexState]],
    * typically read back from storage): the query session pays the
    * bounded per-query LUT build, the narrow code-table scan, and the
    * pool-sized exact rerank — never the training sample collect or the
    * corpus-wide encode pass. At 100 TB this is the operating split: the
    * index builds once per snapshot, queries run all day. Training is
    * deterministic and the state is exact, so a rebuilt or
    * parquet-round-tripped state answers bit-identically to the first
    * build — the llm_ann_pq_state gate re-asserts it at every sf the
    * driver runs and AnnStateSpec pins it through a real parquet round
    * trip. */
  def pqTopKFromState(emb: DataFrame, books: DataFrame, codes: DataFrame,
      numQueries: Int = 10, k: Int = 5, poolFactor: Int = 320): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bks = booksFromState(books)
    if (bks.isEmpty) return emptyTopK(spark)
    val bcL = spark.sparkContext.broadcast(adcLuts(emb, bks, numQueries))
    val cds = codes.select(col("vec_id").cast("long"), col("codes"))
      .as[(Long, Array[Int])]
    exactRerank(emb, adcPool(adcScore(cds, bcL), k * poolFactor), numQueries, k)
  }

  /** IVF-PQ — the literal FAISS pairing, composed from the two stages
    * this file already serves: IVF's coarse quantizer decides WHICH
    * vectors a query scores at all ([[ivfCandidates]] — nProbe/nLists
    * of the corpus), PQ's ADC decides HOW CHEAPLY each survivor is
    * scored (m lookup-adds over the code table instead of a full-width
    * dot product), and the shared exact rerank touches raw vectors only
    * for the k·poolFactor pool. Exactly [[ivfIndexState]] and
    * [[pqIndexState]] followed by [[ivfPqTopKFromState]]. At 100 TB this
    * is the index a production embedding store actually serves: the
    * coarse lists and the code table are the persisted index state, the
    * raw floats are cold storage the rerank pages in. Every shuffle in
    * the plan carries ids and small ints/longs only. Recall compounds
    * BOTH approximations — measured (PqProbe, 2026-08-15)
    * 0.88/0.92/0.92/0.94 across sf0.001/0.01/0.1/sf1 at the round-14
    * defaults, decaying to 0.76 at the sf10 fifth decade (razor-thin
    * over the 0.75 floor); the re-tuned ksub=64/pool=320x restores the
    * margin there (PqProbe 2026-08-16: pool=320x alone lifts 0.76→0.82,
    * and the shared-ksub bump rides the flat-PQ re-tune). Floor gated at
    * 0.75 in llm_sim_topk_ivfpq. */
  def ivfPqTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
      nLists: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 64,
      iters: Int = 5, sampleSize: Int = 4096, poolFactor: Int = 320): DataFrame =
    (ivfIndexState(emb, nLists, iters, sampleSize),
        pqIndexState(emb, m, ksub, iters, sampleSize)) match {
      case (Some((centroids, lists)), Some((books, codes))) =>
        ivfPqTopKFromState(emb, centroids, lists, books, codes,
          numQueries, k, nProbe, poolFactor)
      case _ => emptyTopK(emb.sparkSession)
    }

  /** IVF-PQ's scoring stage: ADC over only the IVF candidate pairs. */
  private def adcScoreCand(cand: DataFrame, codes: DataFrame,
      bcL: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Array[Double]])]])
      : DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    cand.join(codes, "nid")
      .select(col("qid"), col("nid"), col("codes"))
      .as[(Long, Long, Array[Int])]
      .mapPartitions { rows =>
        val ls = bcL.value.toMap
        rows.map { case (qid, nid, cd) => (qid, nid, adcScoreR(ls(qid), cd)) }
      }.toDF("qid", "nid", "approx_r")
  }

  /** Build the IVF coarse index (see [[pqIndexState]] — together they
    * are the TWO things a FAISS-style production index stores): a
    * `nLists`-centroid [[lloyd]] codebook over the bounded sample, then
    * one broadcast+kernel pass (no shuffle) assigning every corpus vector
    * to its nearest centroid. Returns `centroids(list, centroid
    * array<double>)` — nLists rows, the trained coarse quantizer — and
    * `lists(nid, list)` — the corpus-wide inverted-list assignment, one
    * int per vector. Returns None on an empty corpus. Same consistency
    * contract: artifacts from different builds must never mix. */
  def ivfIndexState(emb: DataFrame, nLists: Int = 16, iters: Int = 5,
      sampleSize: Int = 4096): Option[(DataFrame, DataFrame)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = trainingSample(emb, sampleSize).map(_.map(_.toDouble))
    if (sample.isEmpty) return None
    val centroids = lloyd(sample, nLists, iters)
    val bcC = spark.sparkContext.broadcast(centroids)
    val lists = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bcC.value
        rows.map { case (id, v0) => (id, nearestCentroid(v0.map(_.toDouble), cs)) }
      }.toDF("nid", "list")
    Some((centroids.zipWithIndex.map { case (c, l) => (l, c) }.toSeq
      .toDF("list", "centroid"), lists))
  }

  /** The IVF centroids of an [[ivfIndexState]] `centroids` table, in
    * list order; empty when the table is. */
  private[graft] def centroidsFromState(centroids: DataFrame): Array[Array[Double]] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids.select(col("list").cast("int"), col("centroid"))
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
  }

  /** [[ivfTopK]]'s query side over the precomputed coarse-index state
    * ([[ivfIndexState]]): the probes vary per call, the centroids and
    * inverted lists do not — so a probe-budget sweep (llm_ann_sweep)
    * builds the index ONCE and replays only the query side per budget.
    * Callers sweeping several budgets should persist `lists` across
    * calls. */
  def ivfTopKFromState(emb: DataFrame, centroids: DataFrame, lists: DataFrame,
      numQueries: Int = 10, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cs = centroidsFromState(centroids)
    if (cs.isEmpty) return emptyTopK(emb.sparkSession)
    exactRerank(emb, ivfCandidates(emb, cs, lists, numQueries, nProbe), numQueries, k)
  }

  /** [[ivfPqTopK]]'s query side, served ENTIRELY from precomputed index
    * state — the four artifacts a production embedding store persists
    * (IVF centroids + inverted lists, PQ codebooks + code table); the
    * query session pays the bounded probe/LUT builds, the probed-list
    * ADC scan and the pool rerank — never a training sample collect, an
    * assignment pass, or an encode pass over the corpus. A rebuilt or
    * parquet-round-tripped state answers bit-identically to the first
    * build (gate-asserted at every sf, pinned in AnnStateSpec). */
  def ivfPqTopKFromState(emb: DataFrame, centroids: DataFrame, lists: DataFrame,
      books: DataFrame, codes: DataFrame, numQueries: Int = 10, k: Int = 5,
      nProbe: Int = 4, poolFactor: Int = 320): DataFrame = {
    val spark = emb.sparkSession
    val cs = centroidsFromState(centroids)
    val bks = booksFromState(books)
    if (cs.isEmpty || bks.isEmpty) return emptyTopK(spark)
    val cand = ivfCandidates(emb, cs, lists, numQueries, nProbe)
    val bcL = spark.sparkContext.broadcast(adcLuts(emb, bks, numQueries))
    val cds = codes.select(col("vec_id").cast("long").as("nid"), col("codes"))
    exactRerank(emb, adcPool(adcScoreCand(cand, cds, bcL), k * poolFactor),
      numQueries, k)
  }

  /** Deterministic random hyperplanes (seeded JVM LCG — stable across
    * runs/platforms). */
  def planes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def bucketOf(v: Column, ps: Array[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Production probing parameters for [[lshTopK]] — and since round 13
    * its DEFAULT: (numPlanes, maxProbeHamming) = (16, 2) — 2^16 buckets,
    * 137 probed per query, a 0.21% probe fraction instead of the test
    * shape's 11/16 ≈ 69%. The TEST shape (4 planes, passed explicitly by
    * the oracle entry and the scale probes) keeps recall measurable on
    * the gate's near-isotropic synthetic vectors (LSH's worst case —
    * sign agreement carries no signal when directions are uniform), at
    * the price of probing most of the corpus; copied to a 100 TB store
    * it is a brute-force scan in disguise — which is exactly why it is
    * no longer the default. Real embedding corpora
    * CLUSTER, which is the regime sign-LSH exists for: with 16 planes a
    * query's true neighbours agree on almost all signs and the Hamming≤2
    * probe ring recovers them from ~0.2% of the corpus. LlmSpec asserts
    * both contracts on a planted clustered corpus — candidate density
    * < 1% AND a recall floor — the [[ProductionNearDupParams]] pattern. */
  val ProductionTopKParams: (Int, Int) = (16, 2)

  /** Candidate (qid, nid) pairs of [[lshTopK]]'s probing stage — the
    * bucket build, multi-probe ring and pair dedup without the rerank.
    * Exposed package-private as the candidate-density guard's
    * measurement hook (the [[nearDupCandidates]] pattern). */
  private[graft] def lshCandidates(emb: DataFrame, numQueries: Int,
      numPlanes: Int, maxProbeHamming: Int, seed: Long): DataFrame = {
    val dim = embeddingDim(emb).getOrElse(
      return emptyResult(emb.sparkSession, "qid BIGINT, nid BIGINT"))
    val ps = planes(numPlanes, dim, seed)
    // the bucket table carries ids only — candidate generation never
    // touches (or shuffles) the 64-float vectors
    val withB = emb.select(
      col("vec_id").cast("long").as("vec_id"), bucketOf(col("embedding"), ps).as("bucket"))

    // query side probes every bucket within the Hamming radius
    val masks: Seq[Long] = (0 until (1 << numPlanes)).map(_.toLong)
      .filter(m => java.lang.Long.bitCount(m) <= maxProbeHamming)
    val probes = array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)
    val qb = withB.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), explode(probes).as("bucket"))
    val cb = withB.select(col("vec_id").as("nid"), col("bucket"))
    // a neighbour can land in several probed buckets: dedup on the id PAIR
    // (a shuffle of two longs), THEN join the vectors in exactly once
    cb.join(broadcast(qb), "bucket")
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
  }

  /** Approximate top-k: sign-LSH bucketing with multi-probe (all buckets
    * within Hamming distance `maxProbeHamming` of the query's bucket), exact
    * cosine ranking within the probed buckets. May return fewer than k rows
    * per query (standard ANN recall trade-off).
    *
    * The DEFAULT is [[ProductionTopKParams]] (16 planes / Hamming≤2 —
    * 0.21% probe fraction, density- and recall-asserted in LlmSpec on a
    * clustered corpus), so copying the callable to a 100 TB store gets
    * the production shape, not a brute-force scan in disguise. The
    * oracle-gated TEST entries pass `numPlanes = 4` explicitly: the
    * gate's synthetic embeddings are near-isotropic (LSH's hard case —
    * sign agreement carries no signal on uniform directions), where 4
    * planes keep recall measurable at the price of probing ~69% of the
    * corpus — a trade that is only acceptable at test scale. */
  def lshTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
      numPlanes: Int = ProductionTopKParams._1,
      maxProbeHamming: Int = ProductionTopKParams._2,
      seed: Long = 42L): DataFrame = {
    val pairs = lshCandidates(emb, numQueries, numPlanes, maxProbeHamming, seed)
    exactRerank(emb, pairs, numQueries, k)
  }

  /** Exact cosine rerank of candidate (qid, nid) pairs in the ORIGINAL
    * space: the query side broadcasts, candidate vectors join in exactly
    * once, rank is the same deterministic (score desc, nid asc) order as
    * [[bruteForceTopK]]. Shared tail of every ANN variant. */
  private def exactRerank(emb: DataFrame, pairs: DataFrame, numQueries: Int,
      k: Int): DataFrame = {
    val withNorm = emb.select(
      col("vec_id").cast("long").as("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val qv = withNorm.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val nv = withNorm
      .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
    val scoreR = floor(dot(col("qv"), col("nv")) / (col("qn") * col("nn")) * 1e6 + 0.5)
      .cast("long")
    val w = Window.partitionBy("qid").orderBy(col("score_r").desc, col("nid").asc)
    pairs.join(broadcast(qv), "qid").join(nv, "nid")
      .withColumn("score_r", scoreR)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("score_r"), col("rank").cast("long").as("rank"))
  }

  val OutlierTopK = 20

  /** Embedding outlier detection: the [[OutlierTopK]] vectors farthest
    * (squared L2) from the corpus centroid — the standard embedding-space
    * quality filter (OOD/garbage vectors sit far from the mass).
    *
    * Exactness discipline: each float coordinate is integerized to e5
    * FIRST (`floor(x*1e5+0.5)`, bit-identical in both engines), per-dim
    * sums are exact int64, the centroid is a truncating integer division
    * (Spark `div` ≡ DuckDB `//`, both toward zero), and the distance is
    * computed by the codegen'd [[graft.functions.SquaredDistance]] over
    * int-valued doubles. The double arithmetic is EXACT — and therefore
    * partition-order-independent — only while every intermediate stays
    * under 2^53, which the e5 scale guarantees for coordinate magnitudes
    * up to ~59 at dim 64 (diff ≤ 2·59·1e5, squared ×64 ≈ 8.9e15 < 2^53);
    * e6 would already break parity at coords ~6, i.e. any unnormalized
    * logit-scale embedding. Wider domains need a coarser scale, not a
    * silent precision cliff.
    *
    * Plan shape: per-dim sums are ONE map-side-combined aggregate (dim ×
    * partition partial rows); the centroid (dim values, corpus-size-
    * independent) is a bounded driver collect — the k-means-centroid
    * precedent — re-entering the plan as a broadcast literal, so the
    * corpus itself streams once through a narrow projection into a
    * TakeOrderedAndProject top-k. No corpus shuffle anywhere. */
  def embedOutliers(emb: DataFrame): DataFrame = {
    val ve = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("label").cast("long").as("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1e5 + lit(0.5)).cast("long")).as("ve"))
    val stats = ve
      .select(posexplode(col("ve")).as(Seq("i", "x")))
      .groupBy("i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"),
        max(abs(col("x"))).as("m"))
      .collect()
    // enforce the documented exactness envelope instead of silently
    // crossing the 2^53 cliff: worst-case dist2 is dim · (2·max|coord|)^2
    // in e5 units (centroid components are bounded by the same max)
    val dim = stats.length
    val m5 = if (stats.isEmpty) 0L else stats.map(_.getLong(3)).max
    val worst = BigInt(dim) * (BigInt(2) * m5).pow(2)
    require(worst < (BigInt(1) << 53),
      f"embedOutliers e5 exactness envelope exceeded: max |coordinate| ${m5 / 1e5}%.2f " +
        f"at dim $dim gives a worst-case squared distance of $worst >= 2^53, so the " +
        "double arithmetic would no longer be exact/partition-order-independent; " +
        "rescale the embeddings or integerize at a coarser scale")
    val sums = stats.map(r => (r.getInt(0), r.getLong(1) / r.getLong(2)))
      .sortBy(_._1).map(_._2)
    val cArr = array(sums.map(c => lit(c.toDouble)): _*)
    ve
      .withColumn("dist2", graft.functions.VectorExpressions
        .squared_distance(transform(col("ve"), x => x.cast("double")), cArr)
        .cast("long"))
      .orderBy(col("dist2").desc, col("vec_id").asc)
      .limit(OutlierTopK)
      .select(col("vec_id"), col("label"), col("dist2"))
  }

  /** Int8 scalar-quantization gate — the storage/ANN compression step a
    * 100 TB embedding store actually ships (SQ8: 4x smaller than f32,
    * distance error bounded by half a grid step per dim). Each dim gets
    * an affine [mn, mx] grid over the e5-integerized coordinates; levels
    * assign round-half-up, dequantization reconstructs grid midpoints:
    *
    *   q    = round((v - mn)·255 / r)        = ((v-mn)·510 + r) div (2r)
    *   vhat = mn + round(q·r / 255)          = mn + (q·r·2 + 255) div 510
    *
    * (r = mx − mn; both divisions all-nonnegative, so Spark `div` and
    * DuckDB `//` agree exactly.) Output per vector: the max and summed
    * absolute reconstruction error in e5 units plus `within` — whether
    * every dim's error sits inside the theoretical bound r div 255 + 2
    * (a full grid step + both roundings) — so a quantizer regression
    * breaks the hash gate, not just a downstream recall number.
    *
    * Plan shape: two corpus streams, zero corpus shuffle — pass 1 is the
    * map-side-combined per-dim (mn, mx) aggregate (dim-sized), which
    * re-enters pass 2 as a broadcast join; the per-vector error
    * aggregate partial-combines to vector-count rows (each vector's dims
    * are adjacent post-posexplode), so the only exchange carries
    * n_vectors rows. Int64: |coords| e5 ≤ ~9e18/510 trivially. */
  def embedQuantize(emb: DataFrame): DataFrame = {
    def dims(e: DataFrame): DataFrame = e
      .select(col("vec_id").cast("long").as("vec_id"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1e5 + lit(0.5)).cast("long")))
          .as(Seq("i", "x")))
    val stats = dims(emb).groupBy("i")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims(emb).join(broadcast(stats), "i")
      .withColumn("r", col("mx") - col("mn"))
      .withColumn("err",
        abs(col("x") - sq8Vhat(col("x"), col("mn"), col("r"))))
      .groupBy("vec_id")
      .agg(max(col("err")).as("max_err"), sum(col("err")).as("sum_err"),
        min(when(col("err") <= expr("r div 255 + 2"), lit(1L))
          .otherwise(lit(0L))).as("within"))
  }

  /** DuckDB twin of [[embedQuantize]]. */
  val embedQuantizeOracle: String =
    """WITH v AS (
      |  SELECT vec_id::BIGINT AS vec_id,
      |    list_transform(embedding,
      |      x -> floor(x::DOUBLE * 100000 + 0.5)::BIGINT) AS ve
      |  FROM embeddings),
      |de AS (SELECT vec_id, generate_subscripts(ve, 1) AS i, unnest(ve) AS x
      |       FROM v),
      |dims AS (SELECT i, min(x) AS mn, max(x) AS mx FROM de GROUP BY 1),
      |qd AS (
      |  SELECT vec_id, x, mn, mx, mx - mn AS r,
      |    CASE WHEN mx - mn = 0 THEN 0
      |         ELSE ((x - mn) * 510 + (mx - mn)) // (2 * (mx - mn)) END AS q
      |  FROM de JOIN dims USING (i)),
      |e AS (
      |  SELECT vec_id, r,
      |    abs(x - (CASE WHEN r = 0 THEN mn
      |                  ELSE mn + (q * r * 2 + 255) // 510 END)) AS err
      |  FROM qd)
      |SELECT vec_id, max(err)::BIGINT AS max_err, sum(err)::BIGINT AS sum_err,
      |  min(CASE WHEN err <= r // 255 + 2 THEN 1 ELSE 0 END)::BIGINT AS within
      |FROM e GROUP BY 1""".stripMargin

  /** DuckDB twin of [[embedOutliers]]. */
  val embedOutliersOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id::BIGINT AS vec_id, label::BIGINT AS label,
       |    list_transform(embedding,
       |      x -> floor(x::DOUBLE * 100000 + 0.5)::BIGINT) AS ve
       |  FROM embeddings),
       |de AS (SELECT generate_subscripts(ve, 1) AS i, unnest(ve) AS x FROM v),
       |cs AS (SELECT i, (sum(x) // count(*))::BIGINT AS c FROM de GROUP BY i),
       |cent AS (SELECT list(c ORDER BY i) AS ce FROM cs)
       |SELECT vec_id, label,
       |  list_sum(list_transform(range(1, len(ve) + 1),
       |    j -> (ve[j] - ce[j]) * (ve[j] - ce[j])))::BIGINT AS dist2
       |FROM v, cent
       |ORDER BY dist2 DESC, vec_id LIMIT $OutlierTopK""".stripMargin
}
