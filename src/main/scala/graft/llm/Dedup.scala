package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, over the canonical
  * `documents` table (doc_id, text, ...).
  *
  * Scale design (the point of each operator):
  *  - [[exact]]: hash → groupBy. One shuffle on the 128-bit content hash,
  *    map-side partial aggregation; never compares documents pairwise.
  *  - [[nearDuplicates]]: MinHash + LSH banding. Each doc produces `bands`
  *    (band, bandKey) rows; the candidate join shuffles on the band key so
  *    only docs agreeing on a whole band ever meet — at 100 TB this is the
  *    standard O(n·bands) plan, vs the O(n²) all-pairs join that would be
  *    the naive translation. Candidates (a tiny set) are then verified with
  *    EXACT Jaccard, so false positives never escape; false negatives are
  *    bounded by 1-(1-t^r)^b (≈1e-18 at J=0.9 with b=32, r=3).
  * Everything is Column expressions (codegen), no UDFs.
  */
object Dedup {

  /** Lowercased word tokens (non-word separators, empties removed). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => t =!= "")

  /** The ONE gram-generation kernel: positional (non-distinct) word
    * n-grams from a token-array column, in document order. Every other
    * gram shape ([[shinglesFromTokens]], Mining's bigram/positional
    * variants) wraps this, so the empty-array guard and the
    * space-joining live in exactly one place. IMPORTANT: pass a
    * materialized attribute, not the [[tokens]] expression — the token
    * array is referenced n+1 times per element here, and an inlined
    * tokenization would re-split the text once per shingle (a
    * plan-visible 100x blowup). */
  def gramSeq(w: Column, n: Int): Column = {
    val cnt = size(w) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), greatest(cnt, lit(1))), i =>
        concat_ws(" ", (0 until n).map(o => element_at(w, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct word n-gram shingles from a token-array column (the
    * [[gramSeq]] caveat applies). */
  def shinglesFromTokens(w: Column, n: Int = 3): Column =
    array_distinct(gramSeq(w, n))

  /** Convenience single-expression form (tests / small inputs only — see
    * the [[shinglesFromTokens]] caveat). */
  def wordShingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Rounded e4 Jaccard in the ORACLE's evaluation order: ONE double
    * division of (inter·1e4)/union — NOT (inter/union)·1e4. The two
    * orders differ by 1 ulp on real pairs (427/800: 5337 vs 5338,
    * verified against DuckDB), which is enough to flip the floor and
    * break the bit-identical gate; every Jaccard emitter must go through
    * this ONE definition. */
  def jaccardE4(inter: Column, union: Column): Column =
    floor(inter.cast("double") * 1e4 / union.cast("double") + 0.5).cast("long")

  /** The ONE shingle-side builder every set-similarity path uses:
    * `(doc_id, sh)` with `sh` the doc's SORTED distinct word n-gram
    * shingles. Plan shape is load-bearing (all measured):
    *  - the short-doc filter tests token COUNT (`size(w) >= n`) — a
    *    predicate on the shingle array would be pushed into the scan
    *    with the whole tokenize+shingle chain inlined (5 re-splits/row);
    *  - an explicit-count exchange separates tokenization from the
    *    shingle/minhash lambdas (CollapseProject would otherwise merge
    *    the projections and re-tokenize per array element — a measured
    *    1000× blowup) and spreads single-file sources;
    *  - sorted arrays make verification a codegen'd merge walk;
    *  - CACHED (MEMORY_AND_DISK): every caller feeds it to at least two
    *    consumers (banding/prefix join + verification), and uncached the
    *    optimizer plans full recomputations of the pipeline per use.
    * Callers own unpersist via [[OpCaches.track]]. */
  private[graft] def shingleTable(docs: DataFrame, n: Int): DataFrame =
    shingleProjection(docs, n).cache()

  /** The uncached projection under [[shingleTable]] — what
    * [[shingleState]] hands to a write-once caller (caching a frame
    * whose single consumer is `.write` would materialize a copy that
    * nothing ever reads or releases). */
  private def shingleProjection(docs: DataFrame, n: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .select(col("doc_id").cast("long").as("doc_id"), tokens(col("text")).as("w"))
      .where(size(col("w")) >= n)
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), sort_array(shinglesFromTokens(col("w"), n)).as("sh"))
  }

  /** LSH band rows from a shingle table: one `(doc_id, band, bkey)` row
    * per band, the band key a hash of the band's r minhash slots — ONE
    * native-expression call per doc
    * ([[graft.functions.MinhashBandKeys]], bit-identical to the
    * nested-HOF form but with primitive loops instead of
    * bands·r·|sh| lambda invocations). */
  private def bandTable(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sh.select(col("doc_id"), posexplode(
        graft.functions.VectorExpressions.minhash_band_keys(col("sh"), bands, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))

  /** The ONE exact-verification tail: join a candidate-pair table
    * `(aName, bName)` back to the two shingle tables and keep pairs with
    * exact Jaccard ≥ `threshold`, emitting `(aName, bName, jaccard_r)`.
    * The intersection is a codegen'd merge walk over the sorted arrays
    * (no per-row hash set); the threshold compares the raw double ratio
    * and `jaccard_r` is the [[jaccardE4]] rounding — both pinned so the
    * oracles replay them. Building it fires no Spark job. */
  private def verifyExact(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      aName: String, bName: String, threshold: Double): DataFrame = {
    val withSh = cand
      .join(shA.select(col("doc_id").as(aName), col("sh").as("sha")), aName)
      .join(shB.select(col("doc_id").as(bName), col("sh").as("shb")), bName)
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sha"), col("shb"))
    val union = size(col("sha")) + size(col("shb")) - inter
    val jac = inter.cast("double") / union.cast("double")
    withSh.where(jac >= threshold)
      .select(col(aName), col(bName), jaccardE4(inter, union).as("jaccard_r"))
  }

  /** Exact dedup: group by full-content hash, keep the smallest doc_id as
    * the survivor. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min("doc_id").cast("long").as("doc_id"), count("*").cast("long").as("dups"))
      .select("doc_id", "text_hash", "dups")

  /** MinHash signature: element i = min over shingles of hash_i(shingle),
    * hash_i = xxhash64 seeded by the slot index. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(shingles, g => xxhash64(i, g))))

  /** Near-duplicate pairs (doc_a < doc_b) with word-3-shingle Jaccard ≥
    * `threshold`, found via LSH banding and verified exactly.
    * `jaccard_r` = Jaccard similarity scaled by 1e4 and rounded.
    *
    * The shingle array is materialized through an exchange before the
    * signature/banding projection: without the barrier, CollapseProject
    * inlines the tokenization expression into every one of the 96 hash
    * lambdas and the whole split+shingle work is redone per hash per
    * shingle (observed as a 1000× blowup). Post-exchange, `sh` is a plain
    * attribute and each band key costs only its own xxhash evaluations.
    * The repartition also spreads single-file sources across the cluster.
    */
  def nearDuplicates(docs: DataFrame, bands: Int = 32, rowsPerBand: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = shingleTable(docs, 3)
    // banded cached: it is both sides of the candidate self-join
    val banded = bandTable(sh, bands, rowsPerBand).cache()
    OpCaches.track("dedup.near", Seq(sh, banded))

    val l = banded.alias("l")
    val r = banded.alias("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
      // candidate pairs are tiny in bytes but heavy in per-row verify CPU;
      // AQE's byte-based sizing would give the verify stage ~bytes/1MB
      // tasks, so pin the exchange to full width
      .repartition(par, col("doc_a"), col("doc_b"))

    verifyExact(cand, sh, sh, "doc_a", "doc_b", threshold)
  }

  /** EXACT n-gram Jaccard duplicate pairs (doc_a < doc_b, J >= `threshold`)
    * via a prefix-filtered set-similarity join (AllPairs / PPJoin family:
    * Bayardo et al. WWW'07, Xiao et al. WWW'08) — the scalable *exact*
    * counterpart to the probabilistic [[nearDuplicates]] MinHash path.
    *
    * The naive exact plan is the inverted-index join: explode shingles,
    * self-join on the shingle, count intersections. At 100 TB that plan
    * dies on stop-word-like shingles — a shingle appearing in k docs
    * contributes k² candidate rows, so one ubiquitous bigram ("of the")
    * goes quadratic. Prefix filtering keeps exactness while pruning: order
    * every doc's shingle set by a GLOBAL total order (document frequency
    * asc, shingle asc — rarest first) and index only the first
    * `|d| - ceil(t·|d|) + 1` shingles. Any pair with J >= t must share at
    * least `ceil(t·max(|a|,|b|))` shingles, which forces an agreement
    * inside both prefixes, so no qualifying pair is lost; pairs meeting
    * only on frequent (non-prefix) shingles — the quadratic mass — never
    * become candidates. The join therefore shuffles on *rare* keys by
    * construction (skew-resistant), candidates carry ids only, and the
    * survivors are verified with exact Jaccard on the full shingle arrays.
    * A length filter (`min·1.0 >= t·max`, implied by J ≤ min/max) prunes
    * before the distinct. Cost: one extra groupBy for the frequency table
    * and one for prefix assembly — both map-side-combining aggregations.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 2, threshold: Double = 0.5): DataFrame = {
    val shBase = shingleTable(docs, n)
    // Regime dispatch (round 15; the exact-embed dispatcher precedent).
    // The prefix filter's pruning power is a property of the VOCABULARY:
    // with a large gram vocabulary (real corpora) document frequencies
    // are low and the prefix join touches only rare keys; with a tiny
    // vocabulary every doc shares prefix grams with thousands of others
    // and the candidate join goes quadratic REGARDLESS of the true pair
    // count (measured at the sf10 decade: 883 distinct bigrams -> 3.3e11
    // candidate join rows for a 101-pair-scale truth; the round-14 sf1
    // ORACLE hit the same wall and moved to bitstring Jaccard). So: a
    // vocabulary that fits [[NgramBitsetMaxVocab]] dense bits takes the
    // bitset all-pairs kernel (exact popcount Jaccard, 64 MB-bounded
    // broadcasts, O(n^2 * V/64) work with a ~1e9 pairs/s/core constant);
    // past it, the prefix-filtered join IS the scalable exact plan.
    // The probe is a bounded TakeOrdered collect (<= maxVocab+1 rows).
    val grams = shBase.select(explode(col("sh")).as("g"))
      .distinct().orderBy(col("g")).limit(NgramBitsetMaxVocab + 1)
      .collect().map(_.getString(0))
    if (grams.nonEmpty && grams.length <= NgramBitsetMaxVocab)
      ngramJaccardBitset(shBase, grams, threshold)
    else ngramJaccardPrefix(shBase, threshold)
  }

  /** Gram-vocabulary bound below which [[ngramJaccard]] dispatches to
    * the dense-bitset all-pairs kernel (4096 bits = 512 B/doc; the
    * oracle's bitstring twin caps at 1024 — an engine vocab in (1024,
    * 4096] simply makes that oracle fail loudly to oracle_infeasible). */
  val NgramBitsetMaxVocab = 4096

  /** Per-block raw-bitset budget for [[ngramJaccardBitset]] — each block
    * is one broadcast, so this (not corpus size) is the memory envelope,
    * exactly like [[Similarity.ExactEmbedBlockBytes]]. */
  val NgramBitsetBlockBytes: Long = 64L << 20

  /** Dense-bitset exact all-pairs: each doc's DISTINCT gram set becomes
    * ONE ceil(V/64)-long bitset under the ascending-gram dense id order
    * (the identical encoding the DuckDB twin uses), and exact Jaccard is
    * popcount(a AND b) / (|a| + |b| - popcount) over an id-ordered pair
    * scan — sorted id-range blocks of ≤ [[NgramBitsetBlockBytes]] each
    * broadcast against the `a_id < blockHi`-prefiltered a-side stream
    * (the [[Similarity.embeddingNearDupBlocked]] shape; the driver holds
    * one block transiently while building each broadcast). Threshold and
    * e4 rounding use the same double arithmetic as [[verifyExact]] /
    * [[jaccardE4]], so the dispatch can never move a hash. */
  private[graft] def ngramJaccardBitset(shBase: DataFrame,
      grams: Array[String], threshold: Double): DataFrame = {
    val spark = shBase.sparkSession
    import spark.implicits._
    val nWords = (grams.length + 63) / 64
    val bcGid = spark.sparkContext.broadcast(grams.zipWithIndex.toMap)
    val bs = shBase.select(col("doc_id").cast("long").as("doc_id"), col("sh"))
      .as[(Long, Seq[String])]
      .map { case (id, sh) =>
        val w = new Array[Long](nWords)
        sh.foreach { g =>
          val k = bcGid.value(g)
          w(k >> 6) |= 1L << (k & 63)
        }
        (id, w, sh.length) // sh is distinct by construction: |set| = length
      }.toDF("id", "bits", "sz").persist()
    OpCaches.track("dedup.ngram", Seq(shBase, bs))
    // one scan: count decides the block count, the oversampled grid
    // supplies the cuts (the exact-embed dispatcher pattern)
    val gridBlocks = 512
    val gridProbs = (1 until gridBlocks).map(i => i.toDouble / gridBlocks)
      .mkString(",")
    val head = bs.agg(count(lit(1)).as("n"),
      expr(s"percentile_approx(id, array($gridProbs), 10000)").as("grid")).head()
    val nDocs = head.getLong(0)
    val corpusBytes = nDocs * nWords * 8L
    val blocks = math.max(1L, math.min(gridBlocks.toLong,
      (corpusBytes + NgramBitsetBlockBytes - 1) / NgramBitsetBlockBytes)).toInt
    val cuts =
      if (blocks <= 1 || nDocs == 0) Seq.empty[Long]
      else {
        val grid = head.getSeq[Long](1)
        (1 until blocks).map { i =>
          val g = math.round(i.toDouble * gridBlocks / blocks).toInt
          grid(math.min(grid.size - 1, math.max(0, g - 1)))
        }.distinct.sorted
      }
    val ranges: Seq[(Option[Long], Option[Long])] =
      if (cuts.isEmpty) Seq((None, None))
      else (None +: cuts.map(Some(_))).zip(cuts.map(Some(_)) :+ None)
    val t = threshold
    ranges.map { case (lo, hi) =>
      val block = bs
        .filter(lo.map(col("id") >= _).getOrElse(lit(true)) &&
          hi.map(col("id") < _).getOrElse(lit(true)))
        .as[(Long, Seq[Long], Int)].collect().sortBy(_._1)
      val ids = block.map(_._1)
      val bits = block.map(_._2.toArray)
      val szs = block.map(_._3)
      val bc = spark.sparkContext.broadcast((ids, bits, szs))
      val aSide = hi.map(h => bs.filter(col("id") < h)).getOrElse(bs)
      aSide.as[(Long, Seq[Long], Int)].mapPartitions { it =>
        val (bIds, bBits, bSzs) = bc.value
        it.flatMap { case (ida, waSeq, sza) =>
          // imperative pair loop: survivors are ~1e-6 of candidates, so
          // the loop must allocate NOTHING per candidate (an
          // Option-per-pair shape ran the sf10 kernel into GC instead
          // of popcounts)
          val wa = waSeq.toArray
          val at = java.util.Arrays.binarySearch(bIds, ida)
          val start = if (at >= 0) at + 1 else -at - 1
          val nw = wa.length
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          var j = start
          while (j < bIds.length) {
            val wb = bBits(j)
            var c = 0L
            var k = 0
            while (k < nw) {
              c += java.lang.Long.bitCount(wa(k) & wb(k)); k += 1
            }
            val u = (sza + bSzs(j) - c).toDouble
            if (c.toDouble / u >= t)
              out += ((ida, bIds(j), math.floor(c.toDouble * 1e4 / u + 0.5).toLong))
            j += 1
          }
          out.iterator
        }
      }.toDF("doc_a", "doc_b", "jaccard_r")
    }.reduce(_ union _)
  }

  /** [[ngramJaccard]] FORCED through the prefix-filtered path — the
    * gate hook that keeps the large-vocabulary plan oracle-hashed even
    * though every gate corpus's tiny vocabulary dispatches to the bitset
    * kernel (the llm_dedup_embed_blocked precedent). */
  def ngramJaccardViaPrefix(docs: DataFrame, n: Int = 2,
      threshold: Double = 0.5): DataFrame =
    ngramJaccardPrefix(shingleTable(docs, n), threshold)

  /** The PPJoin plan stages of [[ngramJaccardPrefix]], factored so the
    * PpjoinProbe main times the SAME expression trees stage by stage. */

  /** Per-doc prefix assembly: sort each doc's grams by the GLOBAL total
    * order (document frequency asc, gram asc — rarest first) and keep the
    * first `sz - ceil(t*sz) + 1` as the prefix. `lastp` = the doc's LAST
    * prefix element as its (df, g) struct — the global-total-order key
    * the side-aware suffix bound compares (r17; one small struct column
    * riding the table). Returned UNCACHED; callers cache it (it feeds
    * both sides of the candidate self-join, which would otherwise
    * recompute the freq join + sort aggregation twice — plan-verified)
    * and own the OpCaches key. */
  private[graft] def ppjoinPrefixAssembly(shBase: DataFrame,
      threshold: Double): DataFrame = {
    val sh = shBase.withColumn("sz", size(col("sh")))
    val exploded = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("g"))
    val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    exploded.join(freq, "g")
      .groupBy("doc_id")
      .agg(first(col("sz")).as("sz"),
        sort_array(collect_list(struct(col("df"), col("g")))).as("ord"))
      .select(col("doc_id"), col("sz"),
        slice(transform(col("ord"), x => x.getField("g")), lit(1),
          (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")).as("pref"),
        element_at(col("ord"),
          (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")).as("lastp"))
      .withColumn("plen", size(col("pref")))
  }

  /** Explode a [[ppjoinPrefixAssembly]] table into per-(doc, prefix-gram)
    * rows with the 1-BASED in-prefix position `p` (prefix positions ARE
    * full-order positions — the prefix is a prefix of the sorted gram
    * array), which feeds the join-time position filter. */
  private[graft] def ppjoinPrefixExplode(prefAgg: DataFrame): DataFrame =
    prefAgg
      .select(col("doc_id"), col("sz"), col("plen"), col("lastp"),
        posexplode(col("pref")).as(Seq("p0", "g")))
      .select(col("doc_id"), col("sz"), col("plen"), col("lastp"),
        (col("p0") + 1).as("p"), col("g"))

  /** alpha(szA, szB) = ceil(t/(1+t)·(szA+szB)) — the overlap any pair
    * with J >= t must reach; the epsilon keeps the double-arithmetic
    * ceil from ever rounding a qualifying pair out (the prune must only
    * be lossless — exactness is enforced by the verify step either
    * way). */
  private def ppjoinAlpha(threshold: Double): (Column, Column) => Column =
    (szA, szB) => ceil(lit(threshold / (1 + threshold)) * (szA + szB) - lit(1e-9))

  /** The candidate self-join over an exploded prefix table: common
    * prefix gram, id order, the length filter (`min·1.0 >= t·max`,
    * implied by J <= min/max), and the PPJoin POSITION filter (Xiao et
    * al. WWW'08 §3.2; r17), applied per JOIN ROW so pruned rows never
    * reach the pair aggregate: for a common gram g
    * at 1-based positions (pa, pb) in the two docs' (df, g)-sorted gram
    * arrays, every OTHER common gram h is either globally < g (then it
    * sits before pa in a AND before pb in b — at most min(pa-1, pb-1)
    * such) or globally > g (after pa AND after pb — at most
    * min(szA-pa, szB-pb)), so
    *   |a ∩ b|  <=  1 + min(pa-1, pb-1) + min(szA-pa, szB-pb).
    * A pair with J >= t needs |a ∩ b| >= alpha, so EVERY match row of a
    * qualifying pair passes the bound — dropping failing rows is
    * lossless (the prefix-overlap count o stays exact for every pair
    * that can qualify) and the quadratic candidate mass of degenerate-
    * vocabulary corpora shrinks before the shuffle+aggregate instead of
    * after it (guide §2.3: shuffle fewer bytes). */
  private[graft] def ppjoinCandJoin(prefix: DataFrame,
      threshold: Double): DataFrame = {
    val alphaOf = ppjoinAlpha(threshold)
    val a = prefix.alias("a")
    val b = prefix.alias("b")
    a.join(b,
      col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")).cast("double") >=
          lit(threshold) * greatest(col("a.sz"), col("b.sz")) &&
        least(col("a.p"), col("b.p")) + // = 1 + min(pa-1, pb-1)
          least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) >=
          alphaOf(col("a.sz"), col("b.sz")))
  }

  /** Aggregate the candidate join rows into `(doc_a, doc_b)` pairs —
    * the same shuffle yields the PREFIX-OVERLAP count o per pair, which
    * powers the PPJoin-style suffix bound (Xiao et al. WWW'08): every
    * common shingle beyond the o prefix matches lies in the suffix of
    * the side whose last prefix element is globally smallest, so
    *   |a ∩ b|  <=  o + (that side's suffix slack),
    * and any pair with J >= t needs |a ∩ b| >= ceil(t/(1+t)·(szA+szB)).
    * The bound uses exactly that side's slack via the carried lastp
    * (r17; ties: either side's slack is a valid bound, the identical
    * gram is in both prefixes — measured 584,019 → 297,956 candidates
    * entering the exact verify at sf0.1 against the max-over-both-sides
    * slack, prune lossless). On corpora where the prefix
    * filter alone is weak (small shingle vocabularies — every doc
    * shares prefix keys with thousands of others) this bound removes
    * ~90% of candidates before any array is touched. */
  private[graft] def ppjoinCandPairs(joined: DataFrame,
      threshold: Double): DataFrame = {
    val alphaOf = ppjoinAlpha(threshold)
    val slack = when(col("lastA") <= col("lastB"), col("szA") - col("plenA"))
      .otherwise(col("szB") - col("plenB"))
    joined
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("o"),
        first(col("a.sz")).as("szA"), first(col("b.sz")).as("szB"),
        first(col("a.plen")).as("plenA"), first(col("b.plen")).as("plenB"),
        first(col("a.lastp")).as("lastA"), first(col("b.lastp")).as("lastB"))
      .where(col("o") + slack >= alphaOf(col("szA"), col("szB")))
      .select(col("doc_a"), col("doc_b"))
  }

  /** The prefix-filtered (AllPairs/PPJoin) exact path of
    * [[ngramJaccard]] — see the dispatch note there: this is the
    * scalable exact plan whenever the gram vocabulary is large enough
    * that prefix keys are rare. */
  private[graft] def ngramJaccardPrefix(shBase: DataFrame,
      threshold: Double): DataFrame = {
    val par = shBase.sparkSession.sparkContext.defaultParallelism
    // cached pre-explode (compact: one array row per doc)
    val prefAgg = ppjoinPrefixAssembly(shBase, threshold).cache()
    // distinct key from the bitset path's: the forced-prefix gate runs
    // in the same session as the dispatched entries and must not
    // unpersist their caches out from under the memoized pair table
    OpCaches.track("dedup.ngram.prefix", Seq(shBase, prefAgg))
    val cand = ppjoinCandPairs(
        ppjoinCandJoin(ppjoinPrefixExplode(prefAgg), threshold), threshold)
      // explicit fan-out: candidate pairs are tiny in BYTES but heavy in
      // per-row verify CPU, so AQE's byte-based coalescing would fold the
      // verify stage into one task; pinning the exchange keeps it wide
      .repartition(par, col("doc_a"), col("doc_b"))
    verifyExact(cand, shBase, shBase, "doc_a", "doc_b", threshold)
  }

  /** Cross-snapshot near-dedup: for each INCOMING document, its best
    * near-duplicate in a HISTORY corpus (word-3-shingle Jaccard ≥
    * `threshold`), found via the same MinHash/LSH banding as
    * [[nearDuplicates]] and verified exactly — the incremental-ingest
    * shape (today's crawl snapshot deduplicated against the accumulated
    * corpus without recomputing history-vs-history pairs).
    *
    * Output: one row per DUPLICATE incoming doc — `(doc_id, dup_of,
    * jaccard_r)` with `dup_of` the best history match (max `jaccard_r`,
    * ties toward the smallest history id — pinned so the oracle can
    * mirror it). Incoming docs with no match ≥ threshold are absent; the
    * caller's anti-join against this verdict table IS the applied dedup.
    *
    * Scale shape: the candidate join is history-bands ⋈ incoming-bands on
    * (band, bandKey) — O(|incoming|·bands) probe rows, never
    * |history|×|incoming| pairs. In production the history side's band
    * table is PRECOMPUTED state (appended as snapshots are accepted), so
    * a daily increment pays only the incoming side's signatures plus the
    * probe — this function recomputes it from `history` because the gate
    * corpus is rebuilt per run. Verification joins ids back to the two
    * shingle tables and runs the exact merge-walk intersect, so false
    * positives never escape; false negatives are the banding bound
    * (≈1e-10 at J=0.8 with b=32, r=3 — same envelope as
    * [[nearDuplicates]], gate-checked at three data decades). */
  def nearDuplicatesAgainst(history: DataFrame, incoming: DataFrame,
      bands: Int = 32, rowsPerBand: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // the SAME shingle/band/verify pipeline as nearDuplicates (one
    // definition of the measured plan shape), split across two corpora;
    // the gate corpus is rebuilt per run so the history state is
    // recomputed here — a production increment reads it back instead
    // (see shingleState/bandState + nearDuplicatesAgainstState)
    val shH = shingleTable(history, 3)
    OpCaches.track("dedup.incrNear", Seq(shH))
    nearDuplicatesAgainstState(shH, bandTable(shH, bands, rowsPerBand),
      incoming, bands, rowsPerBand, threshold)
  }

  /** The persisted-state HISTORY artifacts for incremental near-dedup —
    * what a production pipeline writes once per accepted snapshot and
    * reads back on every increment, instead of re-tokenizing and
    * re-hashing the whole history per run:
    * [[shingleState]] = `(doc_id, sh)` (feeds verification) and
    * [[bandState]] = `(doc_id, band, bkey)` (feeds the candidate join —
    * the minhash hashing cost, paid once per doc ever). Both are plain
    * UNCACHED DataFrames (the expected single consumer is a `.write`)
    * that the caller stores however the corpus is stored (parquet/
    * Delta, appended as snapshots are accepted).
    *
    * CONSISTENCY CONTRACT: the `(n, bands, rowsPerBand)` used to build
    * the stored artifacts MUST be passed to
    * [[nearDuplicatesAgainstState]] — shingle hashes from different n
    * (or band keys from different banding) live in disjoint hash
    * spaces, so a mismatch silently reports every duplicate as unique.
    * Store the parameters beside the artifacts. */
  def shingleState(docs: DataFrame, n: Int = 3): DataFrame =
    shingleProjection(docs, n)

  /** See [[shingleState]]. */
  def bandState(sh: DataFrame, bands: Int = 32, rowsPerBand: Int = 3): DataFrame =
    bandTable(sh, bands, rowsPerBand)

  /** [[nearDuplicatesAgainst]] with the history side supplied as
    * PRECOMPUTED state ([[shingleState]] + [[bandState]], typically read
    * back from storage): the increment pays only the incoming side's
    * shingles/signatures plus the probe join — history cost is
    * O(changed), not O(total). Verdict semantics identical to the
    * recomputing form (spec-pinned). `n`/`bands`/`rowsPerBand` MUST
    * match the stored artifacts (see the [[shingleState]] consistency
    * contract). */
  def nearDuplicatesAgainstState(shH: DataFrame, bandedH: DataFrame,
      incoming: DataFrame, bands: Int = 32, rowsPerBand: Int = 3,
      threshold: Double = 0.8, n: Int = 3): DataFrame = {
    val par = incoming.sparkSession.sparkContext.defaultParallelism
    val shI = shingleTable(incoming, n)
    OpCaches.track("dedup.incrNear.state", Seq(shI))

    val cand = bandedH.alias("h")
      .join(bandTable(shI, bands, rowsPerBand).alias("i"),
        col("h.band") === col("i.band") && col("h.bkey") === col("i.bkey"))
      .select(col("h.doc_id").as("dup_of"), col("i.doc_id").as("doc_id"))
      .distinct()
      // candidates are tiny in bytes, heavy in verify CPU — pin the width
      // so AQE's byte-based sizing can't fold the verify into one task
      .repartition(par, col("doc_id"), col("dup_of"))

    verifyExact(cand, shH, shI, "dup_of", "doc_id", threshold)
      // best match per incoming doc: max rounded Jaccard, ties toward the
      // SMALLEST history id (negate inside the struct max — ids are
      // nonnegative, so max(-id) recovers min(id))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("jaccard_r"), (-col("dup_of")).as("nh"))).as("b"))
      .select(col("doc_id"), (-col("b.nh")).as("dup_of"),
        col("b.jaccard_r").as("jaccard_r"))
  }

  /** Duplicate CLUSTERS from a near-duplicate pair table (doc_a, doc_b):
    * connected components by distributed min-label propagation, plus the
    * survivor decision a dedup pipeline acts on — one row per document
    * that appears in any pair, `(doc_id, cluster_id, keep)` where
    * `cluster_id` is the component's minimum doc_id and `keep` marks its
    * canonical survivor (pairs only say "these two are similar"; the
    * pipeline needs "which ONE of this transitive group survives").
    *
    * Scale shape: per iteration ONE hash join (neighbor labels, on the
    * edge table cached and pre-partitioned by the join key) and ONE
    * map-side-combining min aggregation; `localCheckpoint` truncates the
    * growing lineage each round (the iteration count is the data-parallel
    * loop — per-round driver work is a single count). Converges in
    * O(component diameter) rounds: near-dup components are stars/cliques
    * around a template, so diameter is small; for adversarial chain-shaped
    * graphs the alternating star-contraction algorithm (Kiveris et al.,
    * "Connected Components in MapReduce", SoCC'14) is the drop-in upgrade.
    * Iterations are capped — a non-converged result throws rather than
    * returning wrong clusters.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val par = pairs.sparkSession.sparkContext.defaultParallelism
    val e = pairs.select(col("doc_a").cast("long").as("src"),
      col("doc_b").cast("long").as("dst"))
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(par, col("dst"))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      iters += 1
      val viaEdges = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"),
          lit(null).cast("long").as("own"))
      // the id's previous label rides along as `own` (unique per id, so
      // max() recovers it), making change detection a scan of the
      // checkpointed result instead of a second join job per iteration
      val next = viaEdges
        .union(labels.select(col("id"), col("label"), col("label").as("own")))
        .groupBy("id").agg(min("label").as("label"), max("own").as("own"))
        .localCheckpoint()
      changed = next.where(col("label") =!= col("own")).count()
      labels = next.select(col("id"), col("label"))
    }
    edges.unpersist(false)
    if (changed > 0)
      throw new IllegalStateException(
        s"dupClusters: not converged after $maxIters iterations")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"),
      (col("id") === col("label")).as("keep"))
  }

  /** Per-source DUPLICATION profile over a [[dupClusters]] verdict table:
    * `(source, n_docs, n_clustered, n_dropped, n_clusters, dup_frac_e4)`
    * — how much of each source sits in duplicate clusters, how much the
    * dedup drops, and how many distinct clusters it touches (a
    * cross-source cluster counts toward every source it touches). The
    * "which source is spammy" table that decides where a crawl's dedup
    * budget goes.
    *
    * Scale shape: `clusters` is tiny by construction (clustered docs
    * only), so it BROADCASTS into the corpus's (doc_id, source)
    * projection; both aggregates are sources-sized and map-side
    * combined; the final join is sources × sources. */
  def dupProfile(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))
    val clustered = src.join(broadcast(clusters), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_clustered"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .join(clustered, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_clustered"), lit(0L)).as("n_clustered"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"))
      .withColumn("dup_frac_e4", expr("n_dropped * 10000 div n_docs"))
  }

  // ------------------------------------- content-defined chunking (CDC)

  /** CDC boundary mask bits: cut probability 2^-5 per token, mean chunk
    * ~32 tokens. The boundary test is the storage-dedup gear recursion
    * `h_i = 2·h_{i-1} + g_i` taken mod 2^[[CdcMaskBits]] — which
    * closed-forms to a [[CdcMaskBits]]-token window (bit o of h_i only
    * sees the o-newest gear value mod 2^bits), so both engines evaluate
    * it as a STATELESS per-position expression instead of a sequential
    * fold: boundary(i) ⇔ (Σ_{o<bits} (g_{i−o} mod 2^bits) « o) mod
    * 2^bits = 0, with g_j = 0 for j < 1 (the h_0 = 0 seed). */
  val CdcMaskBits = 5

  /** Per-token gear salt for the [[Curation.hash60]] kernel. */
  private[graft] val CdcSalt = "cdc:"

  /** Content-DEFINED chunk table `(doc_id, chunk_idx, n_tok, chunk_hash)`
    * — the insertion-robust complement of [[Curation.chunk]]'s fixed
    * stride: cut points depend only on the local token window, so a
    * prefix edit re-chunks O(window) tokens instead of shifting every
    * downstream chunk (the storage-dedup CDC property, here at token
    * granularity). The hash table is the corpus-wide state a chunk-level
    * dedup store persists.
    *
    * Plan shape: tokenize + gear-hash once, ONE doc-keyed exchange
    * materializes the gear array before the boundary lambda (which
    * references it [[CdcMaskBits]] times per position — inlined, the
    * element_at's would re-run the whole transform per reference, the
    * [[Dedup.gramSeq]] blowup), then the bounds array computes once per
    * doc and the chunk rows generate below it (the Generate node is the
    * materialization barrier, the [[Curation.chunk]] precedent). No
    * other shuffle — a pure map at any corpus size. chunk_idx is
    * 1-based; a doc with no interior boundary is one whole-doc chunk. */
  def cdcChunks(docs: DataFrame): DataFrame =
    cdcChunksKeyed(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text")),
      Seq("doc_id"), "text")

  /** [[cdcChunks]] generalized to ARBITRARY row-identity columns — the
    * one chunking definition, so the pipe ingest gate (keyed by the
    * LogEvent (part, seq) identity) and the corpus entries (keyed by
    * doc_id) can never drift. Output: key columns ++
    * (chunk_idx, n_tok, chunk_hash). */
  private[graft] def cdcChunksKeyed(rows: DataFrame, keys: Seq[String],
      text: String): DataFrame = {
    val par = rows.sparkSession.sparkContext.defaultParallelism
    val m = (1L << CdcMaskBits) - 1
    val gear = transform(col("w"), t =>
      Curation.hash60(CdcSalt, t).bitwiseAND(lit(m)))
    val n = size(col("w"))
    def bsum(i: Column): Column =
      (0 until CdcMaskBits).map { o =>
        when(i > o, element_at(col("g"), i - o) * lit(1L << o)).otherwise(lit(0L))
      }.reduce(_ + _)
    val cuts = when(n >= 2,
      filter(sequence(lit(1), n - 1), i =>
        bsum(i).bitwiseAND(lit(m)) === lit(0L)))
      .otherwise(array().cast("array<int>"))
    val bounds = concat(array(lit(0)), cuts, array(n))
    val lo = element_at(col("bounds"), col("col"))
    val hi = element_at(col("bounds"), col("col") + 1)
    val k = keys.map(col)
    rows
      .select(k :+ tokens(col(text)).as("w"): _*)
      .where(size(col("w")) >= 1)
      .select(k ++ Seq(col("w"), gear.as("g")): _*)
      .repartition(par, k: _*)
      .select(k ++ Seq(col("w"), bounds.as("bounds")): _*)
      .select(k ++ Seq(col("w"), col("bounds"),
        posexplode(sequence(lit(1), size(col("bounds")) - 1))): _*)
      .select(k ++ Seq(col("col").cast("long").as("chunk_idx"),
        (hi - lo).cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(col("w"), lo + 1, hi - lo)).cast("binary"))
          .as("chunk_hash")): _*)
  }

  /** Chunk-level keep-one dedup profile over [[cdcChunks]]:
    * `(doc_id, n_chunks, dup_chunks, n_tok, dup_tok, dup_frac_e4)` —
    * a chunk occurrence is DUP when the same chunk content has a
    * lexicographically earlier (doc_id, chunk_idx) occurrence anywhere
    * in the corpus (intra-doc repeats count). Because boundaries are
    * content-defined, a doc that duplicates another doc's text at a
    * SHIFTED offset still shares its interior chunks — the case both
    * [[exact]] (whole-doc hash) and [[Curation.chunk]] (stride-aligned
    * windows) miss by construction.
    *
    * Scale shape: the chunk table persists once (it feeds the
    * first-occurrence aggregate AND the join back — the state a real
    * dedup store reads, not recomputes); first-occurrence is ONE
    * map-side-combined min-struct aggregate on chunk_hash, rejoined
    * agg-then-join (skew-safe, AQE-splittable) and re-aggregated per
    * doc. The corpus text itself never shuffles — only the ~n/32-row
    * hash table does. */
  def cdcDedup(docs: DataFrame): DataFrame = {
    val ch = cdcChunks(docs).persist()
    OpCaches.track("dedup.cdc", Seq(ch))
    val first = ch.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    val dup = !(col("doc_id") === col("f.doc_id") &&
      col("chunk_idx") === col("f.chunk_idx"))
    ch.join(first, "chunk_hash")
      .withColumn("is_dup", dup)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(col("n_tok")).as("n_tok"),
        sum(when(col("is_dup"), col("n_tok")).otherwise(0L)).as("dup_tok"))
      .withColumn("dup_frac_e4",
        floor(col("dup_tok").cast("double") * 1e4 / col("n_tok").cast("double")
          + 0.5).cast("long"))
  }

  /** Cross-snapshot CDC dedup: each INCOMING document's chunk-level
    * duplication against a HISTORY chunk table — `historyChunks` is the
    * PERSISTED state a chunk-dedup store appends per accepted snapshot
    * ([[cdcChunks]]'s output, read back — the
    * [[shingleState]]/[[nearDuplicatesAgainstState]] increment shape),
    * so a daily increment pays only the incoming side's chunking plus
    * one hash join against the state. Output per incoming doc:
    * `(doc_id, n_chunks, dup_chunks, n_tok, dup_tok, dup_frac_e4)` with
    * DUP = "this chunk's content exists anywhere in history".
    * Intra-SNAPSHOT duplication is deliberately out of scope here (that
    * is the batch [[cdcDedup]]'s keep-one job); the two compose the way
    * a real ingest runs them: gate the snapshot against history, then
    * keep-one within what survives.
    *
    * Scale shape: the history side reduces to DISTINCT chunk hashes
    * (map-side combined — the increment index); the join shuffles
    * ~n/32-row hash tables on both sides, never text; one doc-keyed
    * re-aggregate. */
  def cdcDedupAgainst(historyChunks: DataFrame, incoming: DataFrame): DataFrame =
    cdcGateVerdicts(historyChunks, incoming)
      .withColumn("in_hist", col("is_dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("in_hist"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(col("n_tok")).as("n_tok"),
        sum(when(col("in_hist"), col("n_tok")).otherwise(0L)).as("dup_tok"))
      .withColumn("dup_frac_e4",
        floor(col("dup_tok").cast("double") * 1e4 / col("n_tok").cast("double")
          + 0.5).cast("long"))

  /** Hot-chunk report size. */
  val CdcHotTopK = 20

  /** The most-duplicated chunk CONTENTS — the "what exactly is the
    * boilerplate" diagnostic the per-doc profiles ([[cdcDedup]]) point
    * at but cannot answer: per repeated chunk hash, its occurrence
    * count, how many distinct docs carry it, and its canonical first
    * occurrence `(first_doc, first_idx)` so an operator can go READ the
    * offending content. Top [[CdcHotTopK]] by (occurrences desc,
    * chunk_hash asc) — a deterministic total order.
    *
    * Scale shape: one map-side-combined aggregate over the ~n/32-row
    * chunk table, then a bounded top-K (the aggregate output is
    * distinct-content-sized; the K cut is a single tiny sort). */
  def cdcHotChunks(docs: DataFrame, topK: Int = CdcHotTopK): DataFrame =
    cdcChunks(docs)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      .where(col("n_occurrences") >= 2)
      .select(col("chunk_hash"), col("n_occurrences"), col("n_docs"),
        col("f.doc_id").as("first_doc"), col("f.chunk_idx").as("first_idx"))
      .orderBy(col("n_occurrences").desc, col("chunk_hash").asc)
      .limit(topK)

  /** DuckDB twin of [[cdcHotChunks]] over the shared chunk chain —
    * first occurrence via a window rank (the lexicographic min-struct
    * the engine takes). */
  val cdcHotOracle: String =
    s"""WITH $cdcChunkCtes,
       |cdcagg AS (
       |  SELECT chunk_hash, count(*)::BIGINT AS n_occurrences,
       |    count(DISTINCT doc_id)::BIGINT AS n_docs
       |  FROM cdcch GROUP BY 1 HAVING count(*) >= 2),
       |cdcfst AS (
       |  SELECT chunk_hash, doc_id AS first_doc, chunk_idx AS first_idx
       |  FROM (SELECT chunk_hash, doc_id, chunk_idx,
       |          row_number() OVER (PARTITION BY chunk_hash
       |                             ORDER BY doc_id, chunk_idx) AS rn
       |        FROM cdcch)
       |  WHERE rn = 1)
       |SELECT chunk_hash, n_occurrences, n_docs,
       |  first_doc::BIGINT AS first_doc, first_idx::BIGINT AS first_idx
       |FROM cdcagg JOIN cdcfst USING (chunk_hash)
       |ORDER BY n_occurrences DESC, chunk_hash
       |LIMIT $CdcHotTopK""".stripMargin

  /** The chunk-level verdict core under [[cdcDedupAgainst]] — one row
    * per incoming chunk, `(chunk_hash, doc_id, chunk_idx, n_tok,
    * is_dup)` with DUP = "content exists in history" — and, because
    * every operator in it is STATELESS (per-doc array chunking, one
    * exchange, a stream-STATIC left join against the distinct-hash
    * index), the SAME function gates a STREAMING `incoming` frame:
    * dedup-on-ingest, each arriving doc judged once in its micro-batch
    * with zero state operators (the curationVerdicts batch ≡ stream
    * contract — StreamCdcSpec pins it, plan-checked). */
  def cdcGateVerdicts(historyChunks: DataFrame, incoming: DataFrame): DataFrame =
    cdcChunks(incoming).join(
      historyChunks.select(col("chunk_hash")).distinct()
        .withColumn("in_hist", lit(true)),
      Seq("chunk_hash"), "left")
      .select(col("chunk_hash"), col("doc_id"), col("chunk_idx"), col("n_tok"),
        coalesce(col("in_hist"), lit(false)).as("is_dup"))

  /** Row-level CDC ingest gate for LogEvent streams — [[cdcGateVerdicts]]
    * re-keyed on the (part, seq) row identity so a PIPE can drop
    * known-content rows on the way to its destination (the production
    * composition: the reference's pipe is a filter, ours is
    * filter ∧ dedup). One verdict row per incoming row WITH at least one
    * chunk: `(part, seq, keep)`, keep ⇔ some chunk's content is NOT in
    * `historyHashes` — only rows whose ENTIRE content is already known
    * drop, so a log line sharing boilerplate with history but carrying a
    * fresh payload chunk passes. Token-less rows produce no verdict
    * (they cannot be content-judged); callers keep them.
    *
    * Scale shape: the same stateless chain as the streaming gate —
    * per-row array chunking, one row-keyed exchange, a left join against
    * the distinct-hash index, one row-keyed re-aggregate; row text never
    * shuffles beyond its own chunking exchange, and the index side
    * reduces map-side to distinct hashes. */
  def cdcIngestKeep(historyHashes: DataFrame, rows: DataFrame): DataFrame =
    cdcIngestKeepFromChunks(historyHashes,
      cdcChunksKeyed(rows.select(col("part"), col("seq"), col("msg")),
        Seq("part", "seq"), "msg"))

  /** [[cdcIngestKeep]] over an already-computed (part, seq)-keyed chunk
    * table — the pipe worker computes the chunks ONCE per trigger and
    * feeds both this gate and the index update from the same persisted
    * frame. One verdict definition either way. */
  def cdcIngestKeepFromChunks(historyHashes: DataFrame,
      chunks: DataFrame): DataFrame =
    chunks
      .join(historyHashes.select(col("chunk_hash")).distinct()
        .withColumn("in_hist", lit(true)), Seq("chunk_hash"), "left")
      .groupBy(col("part"), col("seq"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(coalesce(col("in_hist"), lit(false)), 1L).otherwise(0L))
          .as("dup_chunks"))
      .select(col("part"), col("seq"),
        (col("dup_chunks") < col("n_chunks")).as("keep"))

  /** DuckDB twin of [[cdcGateVerdicts]] over the same snapshot split —
    * the chunk-level rows the STREAMING gate emits. */
  val cdcStreamOracle: String =
    s"""WITH $cdcChunkCtes,
       |cdccut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents),
       |cdchh AS (SELECT DISTINCT chunk_hash FROM cdcch, cdccut WHERE doc_id < c)
       |SELECT i.chunk_hash, i.doc_id, i.chunk_idx, i.n_tok,
       |  h.chunk_hash IS NOT NULL AS is_dup
       |FROM cdcch i
       |LEFT JOIN cdchh h USING (chunk_hash), cdccut
       |WHERE i.doc_id >= c""".stripMargin

  /** DuckDB twin of the incremental gate over the doc-id-midpoint
    * snapshot split (the dedupIncrNear convention): history = chunks of
    * docs below the cut, incoming = at/above. */
  val cdcIncrOracle: String =
    s"""WITH $cdcChunkCtes,
       |cdccut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents),
       |cdchh AS (SELECT DISTINCT chunk_hash FROM cdcch, cdccut WHERE doc_id < c),
       |cdcinc AS (
       |  SELECT i.doc_id, i.n_tok, h.chunk_hash IS NOT NULL AS dup
       |  FROM cdcch i
       |  LEFT JOIN cdchh h USING (chunk_hash), cdccut
       |  WHERE i.doc_id >= c)
       |SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |  sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
       |  sum(n_tok)::BIGINT AS n_tok,
       |  sum(CASE WHEN dup THEN n_tok ELSE 0 END)::BIGINT AS dup_tok,
       |  floor(sum(CASE WHEN dup THEN n_tok ELSE 0 END)::BIGINT * 1e4 /
       |        sum(n_tok)::BIGINT + 0.5)::BIGINT AS dup_frac_e4
       |FROM cdcinc GROUP BY doc_id""".stripMargin

  /** The CDC chunk-table CTE chain, ending in
    * `cdcch(doc_id, chunk_idx, n_tok, chunk_hash)` — shared by the
    * chunk-table and dedup oracles so the boundary definition cannot
    * drift between them. */
  private def cdcChunkCtes: String =
    cdcChunkCtesOver("documents", "doc_id", "text")

  /** [[cdcChunkCtes]] over an arbitrary relation/id/text — the oracle
    * twin of [[cdcChunksKeyed]] (the pipe ingest-gate oracle chunks the
    * LogEvent `msg` stream with the SAME boundary definition). `id`
    * must be castable to BIGINT and unique per row. */
  def cdcChunkCtesOver(rel: String, id: String, text: String): String = {
    val m = (1L << CdcMaskBits) - 1
    val terms = (0 until CdcMaskBits).map(o =>
      s"(CASE WHEN i >= ${o + 1} THEN g[i - $o] * ${1L << o} ELSE 0 END)")
      .mkString(" + ")
    s"""cdctok AS (
       |  SELECT $id::BIGINT AS doc_id,
       |    list_filter(string_split_regex(lower($text), '\\W+'),
       |                t -> t != '') AS w
       |  FROM $rel),
       |cdcg AS (
       |  SELECT doc_id, w, len(w) AS n,
       |    list_transform(w, t -> ${Curation.hash60SqlOf(CdcSalt, "t")} & $m) AS g
       |  FROM cdctok WHERE len(w) >= 1),
       |cdcb AS (
       |  SELECT doc_id, w,
       |    [0] || list_filter(range(1, n), i -> ($terms) & $m = 0) || [n] AS bounds
       |  FROM cdcg),
       |cdck AS (
       |  SELECT doc_id, w, bounds,
       |    unnest(range(1, len(bounds))) AS k
       |  FROM cdcb),
       |cdcch AS (
       |  SELECT doc_id, k::BIGINT AS chunk_idx,
       |    (bounds[k + 1] - bounds[k])::BIGINT AS n_tok,
       |    md5(array_to_string(list_slice(w, bounds[k] + 1, bounds[k + 1]), ' '))
       |      AS chunk_hash
       |  FROM cdck)""".stripMargin
  }

  /** DuckDB twin of [[cdcChunks]]. */
  val cdcChunksOracle: String =
    s"""WITH $cdcChunkCtes
       |SELECT doc_id, chunk_idx, n_tok, chunk_hash FROM cdcch""".stripMargin

  /** DuckDB twin of [[cdcDedup]] — first occurrence via a window rank
    * over the SAME chunk chain; the final ratio replays the engine's
    * one-division rounding ([[jaccardE4]] order). */
  val cdcDedupOracle: String =
    s"""WITH $cdcChunkCtes,
       |cdcr AS (
       |  SELECT doc_id, n_tok,
       |    row_number() OVER (PARTITION BY chunk_hash
       |                       ORDER BY doc_id, chunk_idx) AS rn
       |  FROM cdcch)
       |SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
       |  sum(n_tok)::BIGINT AS n_tok,
       |  sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END)::BIGINT AS dup_tok,
       |  floor(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END)::BIGINT * 1e4 /
       |        sum(n_tok)::BIGINT + 0.5)::BIGINT AS dup_frac_e4
       |FROM cdcr GROUP BY doc_id""".stripMargin
}
