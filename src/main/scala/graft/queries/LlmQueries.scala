package graft.queries

import graft.llm.{Clustering, Curation, Dedup, Fingerprint, Multimodal, Repetition, SimHash, Similarity, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Training-data-pipeline operators over the driver's `documents` /
  * `embeddings` tables, each with a DuckDB oracle computing the identical
  * result (or rows-only for the approximate ANN path, which is instead
  * recall-tested in SimilaritySpec).
  */
object LlmQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The embedding table, memoized/persisted per (session, dir) — it
    * feeds the 7 ANN variant builds plus semdedup/kmeans/outliers/
    * quantize/embed-dedup, each of which otherwise re-scans the parquet
    * (≈6 redundant scans per ANN session measured in the family build
    * cost; VERDICT r17 item 4). §5 persist test: reused by many
    * consumers AND recomputation is a full storage scan. At production
    * scale this cache IS the materialized embedding store every index
    * build reads — the incremental-dedup history-state precedent. */
  private def emb(spark: SparkSession, dir: String): DataFrame =
    memo(embCache, spark, dir)(spark.read.parquet(s"$dir/embeddings.parquet"))
  private val embCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Memo]

  /** Doc budget for the forced-prefix ngram gate's deterministic sample
    * (covers the driver's decades in full; caps the bigger decades —
    * this corpus family's 883-gram vocabulary is exactly the degenerate
    * regime the dispatcher exists for, so the forced-prefix gate holds
    * the plan shape on a bounded sample rather than paying the
    * quadratic candidate mass at full decade size: measured ~3.3e9
    * candidate join rows and a spilling 40 GB hash-agg at 50k docs). */
  private val NgramGateSampleCap = 20000L

  /** Deterministic md5-bucket doc sample, replayed EXACTLY by the
    * DuckDB twin (bucket = first 15 md5 hex chars of the decimal doc_id
    * string, base-16, mod 1e6 — verified Spark == DuckDB value-for-value
    * this round). Fraction 1.0 whenever the corpus fits the cap. */
  private def sampledDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    val d = docs(spark, dir)
    val total = d.count()
    val lt =
      if (total <= NgramGateSampleCap) 1000000L
      else math.max(1L, NgramGateSampleCap * 1000000L / total)
    d.where(conv(substring(md5(col("doc_id").cast("string").cast("binary")),
      1, 15), 16, 10).cast("long") % 1000000L < lt)
  }

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir))

  def dedupNear(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicates(docs(spark, dir))

  /** Session-aware memoization for persisted sub-results: keyed by
    * (session, dir) — a cached plan is bound to the session that built it,
    * so a later session reusing the JVM must not see it — and entries
    * whose session has stopped are dropped on access (their persisted
    * blocks died with the session; the stale plan would otherwise pin the
    * map for the process lifetime). */
  private final class Memo(mk0: () => DataFrame) {
    // persist() runs inside the lazy body: a getOrElseUpdate race may
    // construct a losing Memo, but only the STORED holder is ever forced
    // (lazy val is thread-safe), so nothing orphaned gets persisted and —
    // unlike a cache-wide synchronized block — a slow first build of one
    // key never serializes unrelated keys sharing the cache
    lazy val df: DataFrame = mk0().persist()
  }

  private def memo(cache: scala.collection.concurrent.TrieMap[(SparkSession, String), Memo],
      spark: SparkSession, key: String)(mk: => DataFrame): DataFrame = {
    cache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    cache.getOrElseUpdate((spark, key), new Memo(() => mk)).df
  }

  /** The ngram-Jaccard pairs feed TWO entries (the pair list itself and
    * the cluster/survivor view) — exactly how a production pipeline runs
    * them, pairs computed once. Memoized per (session, testdata dir) — a
    * handful per JVM; the persisted pair lists are tiny (candidates, not
    * corpus). */
  private val ngramPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Memo]
  private def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    memo(ngramPairsCache, spark, dir)(Dedup.ngramJaccard(docs(spark, dir)))

  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)

  /** Clusters memoized like [[ngramPairs]]: the label propagation feeds
    * both the cluster view and the applied dedup (tiny result — one row
    * per clustered doc). */
  private val clustersCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Memo]
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    memo(clustersCache, spark, dir)(Dedup.dupClusters(ngramPairs(spark, dir)))

  /** The APPLIED dedup: the corpus minus non-survivor duplicates — what
    * a pipeline actually writes out after clustering. One anti-join of
    * the doc metadata against the (tiny) drop list. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val drop = dupClusters(spark, dir)
      .filter(!col("keep")).select("doc_id")
    docs(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .join(drop, Seq("doc_id"), "left_anti")
  }

  /** Per-source DUPLICATION profile over the same memoized cluster
    * table: how many of each source's docs sit in a duplicate cluster,
    * how many the dedup drops, how many distinct clusters the source
    * touches, and the drop fraction — the "which source is spammy"
    * diagnostic that decides where a crawl's dedup budget goes (a
    * cross-source cluster counts toward every source it touches).
    *
    * Scale shape: the cluster table is tiny by construction (clustered
    * docs only), so it BROADCASTS into the corpus's (doc_id, source)
    * projection; both aggregates are sources-sized and map-side
    * combined; the final join is sources × sources. */
  def dupProfile(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupProfile(dupClusters(spark, dir), docs(spark, dir))

  /** The COMPOSED curation pipeline — the DAG a user actually runs:
    * Gopher quality filter ∧ model-based quality score (the zero-shuffle
    * hashed-linear stage) ∧ C4 blocklist ∧ duplicate-cluster
    * non-survivor removal ∧ duplicated-span cut (docs
    * ≥[[graft.llm.Mining.DupSpanDropE4]] covered by cross-corpus
    * duplicated spans) ∧ benchmark decontamination ∧ per-domain cap ∧
    * mixture resampling ∧ deterministic stratified sampling ∧ a
    * CONSTRAINED per-source token-budget cap
    * ([[graft.llm.Curation.PipelineBudgetMultipleE2]] = 0.60× the
    * CURATED corpus — the budget is planned over the survivors' own
    * token counts via the same [[Curation.tokenBudgetFromCounts]]
    * algebra the standalone 3.00× report gates; budgeting the raw
    * corpus would dwarf the caps against what filtering left and the
    * stage would be vacuous, exactly as a 3.00× multiple is), then
    * per-language
    * survivor counts (+ a doc_id checksum so the oracle pins the exact
    * surviving SET, not just its size). Every stage is the SAME operator
    * its standalone entry gates — the cluster drop list even reuses the
    * memoized pair computation — so this entry asserts the stages
    * compose: one plan, semi/anti joins against the (tiny) stage verdict
    * sets, corpus streamed once through the join chain.
    *
    * The budget cut keeps each source's surviving docs in doc_id order
    * while the running token total stays inside the source's allocation
    * — a grouped prefix sum over SURVIVORS, computed with
    * [[graft.operators.PrefixSum.groupedCumBefore]] (range exchange on
    * doc_id + per-source running counters), NOT a sources-partition
    * window that would funnel the corpus into S tasks. */
  /** The pipeline's curated-survivor snapshot — the nine-gate join chain,
    * memoized per (session, dir) like every other shared sub-result
    * (gopherVerdicts / ngramPairs / topk): consumed three times by
    * [[pipeline]] (budget agg, prefix sum, final join) AND by repeat
    * invocations. Before memoization each call re-ran the whole chain and
    * re-persisted (the r11 bench showed it: llm_pipeline warm 8.8 s >
    * cold 5.5 s, because "warm" was a full rebuild whose OpCaches.track
    * also unpersisted the previous snapshot); now the warm path reads the
    * persisted doc-metadata-sized snapshot — at production scale this
    * materialization IS the curated checkpoint a run writes before
    * packing anyway. */
  private val pipelineCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Memo]

  /** The span-dup and contamination DROP sets, memoized because two
    * consumers (the survivor snapshot and the retention funnel) each
    * need them and both derive from a full corpus gram pass — the sets
    * themselves are doc-id-sized. */
  private def spanDropSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"spandrop|$dir")(
      graft.llm.Mining.dupSpans(docs(spark, dir), hotGrams(spark, dir))
        .where(col("dup_frac_e4") >= graft.llm.Mining.DupSpanDropE4)
        .select("doc_id"))

  /** The duplicated-gram ownership table ([[graft.llm.Mining.hotGramOwners]])
    * shared by span detection (llm_dup_spans, the pipeline's span-drop
    * set) and the cut apply (llm_dup_span_cut) — duplicated-gram-sized
    * (the sliver), memoized/persisted like every other shared stage table;
    * the corpus-sized gram STREAM is still re-generated per pass, never
    * persisted. */
  private def hotGrams(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"hotgrams|$dir")(
      graft.llm.Mining.hotGramOwners(docs(spark, dir)))
  private def contamDropSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"contamdrop|$dir")(
      Curation.decontaminate(docs(spark, dir)).select("doc_id"))

  // The five projection-stage keep sets, memoized like every other shared
  // stage table (gopher verdicts, dup clusters, the drop sets) so the
  // survivor snapshot AND the retention funnel read the SAME persisted
  // doc-id-sized verdicts — the funnel is then eleven reads of persisted
  // state, never a corpus-scale recompute (round-13 directive 6; before
  // this, each funnel invocation re-derived all five from the raw corpus).
  private def modelKeepSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"modelkeep|$dir")(
      Curation.qualityScore(docs(spark, dir)).where(col("keep")).select("doc_id"))
  private def blockKeepSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"blockkeep|$dir")(
      Curation.blocklistFilter(docs(spark, dir)).where(col("keep")).select("doc_id"))
  private def capKeepSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"capkeep|$dir")(
      Curation.pipelineCapKeep(docs(spark, dir)))
  private def mixKeepSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"mixkeep|$dir")(
      Curation.mixtureKeep(docs(spark, dir)))
  private def sampleKeepSet(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"samplekeep|$dir")(
      Curation.stratifiedSample(docs(spark, dir)).select("doc_id"))
  private def pipelineSurvivors(spark: SparkSession, dir: String): DataFrame =
    memo(pipelineCache, spark, dir) {
      import org.apache.spark.sql.functions.size
      val d = docs(spark, dir)
      val qualityKeep = gopherVerdicts(spark, dir)
        .where(col("keep")).select("doc_id")
      val dupDrop = dupClusters(spark, dir).filter(!col("keep")).select("doc_id")
      val spanDrop = spanDropSet(spark, dir)
      val contaminated = contamDropSet(spark, dir)
      // the cap stage is the RELATIVE pipelineCapKeep, not the absolute
      // standalone domainCap — an absolute per-domain cap emptied the
      // composition at the sf1 decade (PLANS.md, round 12)
      val capped = capKeepSet(spark, dir)
      val mixKeep = mixKeepSet(spark, dir)
      val sampled = sampleKeepSet(spark, dir)
      val modelKeep = modelKeepSet(spark, dir)
      val blockKeep = blockKeepSet(spark, dir)
      d.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"),
          size(graft.llm.Dedup.tokens(col("text"))).cast("long").as("n_tok"))
        .join(qualityKeep, "doc_id")
        .join(modelKeep, "doc_id")
        .join(blockKeep, "doc_id")
        .join(capped, "doc_id")
        .join(mixKeep, "doc_id")
        .join(sampled, "doc_id")
        .join(dupDrop, Seq("doc_id"), "left_anti")
        .join(spanDrop, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
    }

  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count, least, lit, sum}
    val survivors = pipelineSurvivors(spark, dir)
    // the budget cap: per-source allocations planned over the CURATED
    // corpus (the survivors' own token counts — budgeting the raw corpus
    // would dwarf the caps against what filtering left and never cut);
    // unique-token cap = least(avail, got); caps are a sources-sized
    // broadcast, the allocation agg reuses the n_tok already computed
    val availSv = survivors.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens_avail"))
    val caps = Curation
      .tokenBudgetFromCounts(availSv, Curation.PipelineBudgetMultipleE2)
      .select(col("source"),
        least(col("tokens_avail"), col("tokens_got")).as("cap_tok"))
    val cum = graft.operators.PrefixSum
      .groupedCumBefore(survivors.select("doc_id", "source", "n_tok"),
        "doc_id", "source", "n_tok")
    val budgetKeep = cum.join(broadcast(caps), "source")
      .where(col("cum_before") + col("n_tok") <= col("cap_tok"))
      .select("doc_id")
    survivors.join(budgetKeep, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
  }

  /** The pipeline's retention funnel: every stage's keep/drop count plus
    * the composed survivor count, one row per stage — the observability
    * surface a production curation run watches so a degenerate gate
    * (a stage emptying the corpus, or passing everything) is VISIBLE
    * instead of silently composing to zero. Added after the sf1 probe
    * found exactly that: the absolute domain cap + benchmark-gram
    * saturation emptied the composed survivor set one decade above the
    * gated scales (PLANS.md, round 12).
    *
    * Plan shape: eleven 1-row aggregates unioned — every stage count is
    * a read of the SAME persisted verdict table the survivor snapshot
    * joins (gopher verdicts, the five projection keep sets, dup
    * clusters, the two drop sets, the snapshot itself); only the
    * `corpus` row touches the raw table, and nothing but counts ever
    * reaches the driver. A repeat invocation is therefore eleven
    * persisted-table scans, zero corpus-scale recompute. */
  def pipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    val d = docs(spark, dir)
    val stages: Seq[(String, DataFrame)] = Seq(
      "corpus" -> d.select("doc_id"),
      "gopher_keep" -> gopherVerdicts(spark, dir)
        .where(col("keep")).select("doc_id"),
      "model_keep" -> modelKeepSet(spark, dir),
      "blocklist_keep" -> blockKeepSet(spark, dir),
      "cap_keep" -> capKeepSet(spark, dir),
      "mixture_keep" -> mixKeepSet(spark, dir),
      "sample_keep" -> sampleKeepSet(spark, dir),
      "dup_drop" -> dupClusters(spark, dir)
        .filter(!col("keep")).select("doc_id"),
      "span_drop" -> spanDropSet(spark, dir),
      "contam_drop" -> contamDropSet(spark, dir),
      "survivors" -> pipelineSurvivors(spark, dir).select("doc_id"))
    stages.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i.toLong).as("ord"), lit(name).as("stage"), col("n_docs"))
    }.reduce(_.union(_))
  }

  def split(spark: SparkSession, dir: String): DataFrame =
    Curation.split(docs(spark, dir))

  def lmScore(spark: SparkSession, dir: String): DataFrame =
    Curation.lmScore(docs(spark, dir))

  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    Curation.ccnetBuckets(docs(spark, dir))

  /** Memoized like the ngram/gram families: the k-means + within-cluster
    * pairwise + label-propagation chain runs once per (session, dir); a
    * re-invocation reads the 4-row verdict table. */
  def semDedupGate(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"semdedup|$dir")(
      graft.llm.SemDedup.gate(emb(spark, dir)))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    SimHash.fingerprints(docs(spark, dir))

  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.stats(docs(spark, dir))

  /** Each ANN variant's top-k feeds its own entry AND the recall harness
    * — memoized per (session, variant, dir) like [[ngramPairs]] (outputs
    * are k rows per query, tiny at any corpus scale). */
  private val topkCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Memo]
  private val miningCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Memo]

  /** The melted unigram+bigram count table shared by llm_collocations and
    * llm_lm2_score — memoized/persisted like [[ngramPairs]] (vocab-
    * bounded, one corpus pass). */
  private def gramCounts(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"grams|$dir")(
      graft.llm.Mining.gramCounts(docs(spark, dir)))

  /** The per-doc Gopher verdict table, shared by llm_gopher_filter and
    * the composed pipeline. Persisted for a further reason than reuse: a
    * downstream filter on the DERIVED `keep` column would otherwise be
    * pushed through every projection to the scan with the whole
    * tokenize+metric expression chain INLINED into the predicate
    * (~20 re-tokenizations per row, measured 10.3 s vs ~1 s at sf0.1 —
    * the fuzzyDecontam lesson); against the persisted table the filter
    * lands on materialized columns. */
  private def gopherVerdicts(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"gopher|$dir")(
      Repetition.gopherFilter(docs(spark, dir)))
  private def topk(spark: SparkSession, variant: String, dir: String)(
      mk: => DataFrame): DataFrame =
    memo(topkCache, spark, s"$variant|$dir")(mk)

  def simTopK(spark: SparkSession, dir: String): DataFrame =
    topk(spark, "brute", dir)(Similarity.bruteForceTopK(emb(spark, dir)))

  def simTopKLsh(spark: SparkSession, dir: String): DataFrame =
    // numPlanes = 4 EXPLICITLY: the gate corpus is near-isotropic (LSH's
    // hard case), where the production 16-plane default has no signal;
    // the callable default is ProductionTopKParams (Similarity.scala)
    topk(spark, "lsh", dir)(
      Similarity.lshTopK(emb(spark, dir), numPlanes = 4, maxProbeHamming = 2))

  def simTopKIvf(spark: SparkSession, dir: String): DataFrame =
    topk(spark, "ivf", dir)(Similarity.ivfTopK(emb(spark, dir)))

  def simTopKRp(spark: SparkSession, dir: String): DataFrame =
    topk(spark, "rp", dir)(Similarity.rpTopK(emb(spark, dir)))

  def simTopKSq8(spark: SparkSession, dir: String): DataFrame =
    topk(spark, "sq8", dir)(Similarity.sq8TopK(emb(spark, dir)))

  def simTopKPq(spark: SparkSession, dir: String): DataFrame =
    topk(spark, "pq", dir)(Similarity.pqTopK(emb(spark, dir)))

  def simTopKIvfPq(spark: SparkSession, dir: String): DataFrame =
    topk(spark, "ivfpq", dir)(Similarity.ivfPqTopK(emb(spark, dir)))

  def multimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAll(docs(spark, dir))

  def pcmFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.pcmFrames(docs(spark, dir))

  /** Gate-corpus cap for the two exact-embed entries (vectors). The
    * entries are n²-BY-CONTRACT (exact all-pairs); at sf10's 200k
    * vectors the pair kernel costs 233–330 s — the measured contract
    * constant — and one decade up it would be ~6–9 h each and stall the
    * campaign ladder (round-16 directive 4). The gate therefore runs on
    * a deterministic md5 sample capped at 200k vectors: fraction 1.0
    * through sf10 (zero output/hash drift at every currently-green
    * decade), 10% at sf100 — the gate keeps pinning both kernels at
    * sf10-scale cost while the production dispatcher
    * (Similarity.embeddingNearDup) stays untouched. */
  private val EmbedGateSampleCap = 200000L

  /** Deterministic md5-bucket vector sample (same bucket arithmetic as
    * [[sampledDocs]], replayed exactly by the DuckDB twins). Because
    * every sample predicate uses the SAME md5 bucket of vec_id, the
    * bounded twin's 500-cap verdict sample is automatically a subset of
    * this gate corpus — the predicates nest by construction. */
  private def sampledEmb(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    val e = emb(spark, dir)
    val total = e.count()
    val lt =
      if (total <= EmbedGateSampleCap) 1000000L
      else math.max(1L, EmbedGateSampleCap * 1000000L / total)
    e.where(conv(substring(md5(col("vec_id").cast("string").cast("binary")),
      1, 15), 16, 10).cast("long") % 1000000L < lt)
  }

  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDup(sampledEmb(spark, dir))

  /** The DISTRIBUTED exact-embed path under the oracle gate: the same
    * full-recall contract as llm_dedup_embed but FORCED through the
    * blocked cross join (broadcastMaxBytes=0 puts every corpus above
    * the dispatch bound; 256 KB blocks make a genuinely multi-block
    * plan at every gate decade) — so the gate exercises the 100 TB
    * code path itself, not only the small-corpus broadcast kernel. */
  def embedNearDupBlocked(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupExact(sampledEmb(spark, dir),
      broadcastMaxBytes = 0L, blockBytes = 256L * 1024)

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Fingerprint.winnow(docs(spark, dir))

  /** Pinned recall@5 floors per ANN variant (e4 fixed point) — the same
    * floors LlmSpec asserts at sf0.001, and VERIFIED AT sf0.1 TOO (an
    * sf0.1 gate run caught the rp floor breaking there when its params
    * were tuned only at smaller scales — recall decays with corpus size
    * at fixed reduction/pool, so a floor is only as good as the largest
    * scale it was checked at). rp: 1.00/1.00/1.00 measured across the
    * three sf decades at dOut=48/pool=240x (re-tuned 2026-08-14 after
    * the sf1 ScaleDecadeSpec measured 0.54 at the old dOut=32/pool=80x;
    * 0.84 at sf1 with the new params). */
  private val annFloorsE4 =
    Map("lsh" -> 5000L, "ivf" -> 4000L, "rp" -> 7500L, "sq8" -> 9000L,
      "pq" -> 7500L, "ivfpq" -> 7500L)

  /** recall@5 of an approximate top-k against the memoized brute-force
    * exact top-k. Driver-side sets are diagnostic-sized (numQueries × k =
    * 50 rows) regardless of corpus scale. */
  private def recallVsExact(spark: SparkSession, dir: String, df: DataFrame): Double = {
    def pairs(d: DataFrame): Set[(Long, Long)] =
      d.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(simTopK(spark, dir))
    if (exact.isEmpty) 0.0 else (exact & pairs(df)).size.toDouble / exact.size
  }

  /** An ANN variant as gated DATA: one row `(variant, floor_e4,
    * meets_floor)` — the entry computes the variant's full top-k and
    * measures its recall against exact, so a probing/banding regression
    * flips `meets_floor` and fails the driver's hash gate. The RAW recall
    * value is deliberately NOT a column: it is data-scale-dependent
    * (different at sf0.001 vs sf0.01), and the oracle must be a constant
    * VALUES row valid at every sf the gate runs. */
  private def annVariantGate(spark: SparkSession, dir: String,
      variant: String, df: => DataFrame): DataFrame = {
    import spark.implicits._
    val floor = annFloorsE4(variant)
    val rec = recallVsExact(spark, dir, df)
    Seq((variant, floor, math.floor(rec * 1e4 + 0.5).toLong >= floor))
      .toDF("variant", "floor_e4", "meets_floor")
  }

  def simTopKLshGate(spark: SparkSession, dir: String): DataFrame =
    annVariantGate(spark, dir, "lsh", simTopKLsh(spark, dir))

  def simTopKIvfGate(spark: SparkSession, dir: String): DataFrame =
    annVariantGate(spark, dir, "ivf", simTopKIvf(spark, dir))

  def simTopKRpGate(spark: SparkSession, dir: String): DataFrame =
    annVariantGate(spark, dir, "rp", simTopKRp(spark, dir))

  def simTopKSq8Gate(spark: SparkSession, dir: String): DataFrame =
    annVariantGate(spark, dir, "sq8", simTopKSq8(spark, dir))

  def simTopKPqGate(spark: SparkSession, dir: String): DataFrame =
    annVariantGate(spark, dir, "pq", simTopKPq(spark, dir))

  def simTopKIvfPqGate(spark: SparkSession, dir: String): DataFrame =
    annVariantGate(spark, dir, "ivfpq", simTopKIvfPq(spark, dir))

  /** Floors for the [[annIvfSweep]] probe-budget curve, e4 — conservative
    * under the measured minima across sf0.001/0.01/sf1 (.76/.80/.88/.96;
    * PLANS.md r12) with the rp-precedent decay margin; the full-probe row
    * is floor 10000 because it is an IDENTITY, not a tuned floor. */
  private val sweepFloorsE4 =
    Seq(1 -> 5000L, 2 -> 5500L, 4 -> 6000L, 8 -> 7000L, 16 -> 10000L)

  /** IVF probe-budget sweep as gated DATA — the "where to set nProbe"
    * decision table (the llm_dedup_sweep role for the ANN knob): per
    * probe budget, recall@5 vs exact must clear its pinned floor, and
    * the FULL-probe row must hit recall 1.0 EXACTLY — probing all lists
    * makes the candidate set total, so the rerank IS brute force (a
    * provable identity: any miss means the probe or rerank machinery
    * broke, not a tuning drift). Raw recalls stay out of the output
    * (scale-dependent; the oracle is a constant VALUES table valid at
    * every sf) — the measured curves live in PLANS.md. */
  def annIvfSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    // build the coarse index ONCE (train + corpus assignment), persist
    // the lists across the five probe budgets — only ivfProbes varies
    // per budget (the build-once/query-from-state split this sweep is
    // the knob table FOR)
    val rows = Similarity.ivfIndexState(e) match {
      case Some((cents, lists0)) =>
        val lists = lists0.persist()
        try sweepFloorsE4.map { case (np, floor) =>
          val rec = recallVsExact(spark, dir,
            Similarity.ivfTopKFromState(e, cents, lists, nProbe = np))
          (np.toLong, floor, math.floor(rec * 1e4 + 0.5).toLong >= floor)
        } finally lists.unpersist(false)
      case None =>
        sweepFloorsE4.map { case (np, floor) => (np.toLong, floor, false) }
    }
    rows.toDF("nprobe", "floor_e4", "meets_floor")
  }

  /** The index-state round trip as gated DATA: build the PQ index
    * ([[Similarity.pqIndexState]]), query FROM the state tables, and
    * assert the verdicts equal [[Similarity.pqTopK]], which builds the
    * index a second time and queries it — bit-identical because training
    * is deterministic, so `state_equals_inline = false` (a build that
    * does not reproduce itself) fails the driver's hash gate at every
    * sf. */
  def annPqStateGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val rebuilt = simTopKPq(spark, dir)
    val same = Similarity.pqIndexState(e) match {
      case Some((books, codes)) =>
        val fs = Similarity.pqTopKFromState(e, books, codes)
        fs.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(fs).isEmpty
      case None => false
    }
    Seq(("pq_state", same)).toDF("variant", "state_equals_inline")
  }

  /** [[annPqStateGate]] for the COMPOSED index: IVF centroids + lists
    * and PQ books + codes (the four artifacts a FAISS-style store
    * persists), queried from state vs a second build in
    * [[Similarity.ivfPqTopK]]. */
  def annIvfPqStateGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val rebuilt = simTopKIvfPq(spark, dir)
    val same = (Similarity.ivfIndexState(e), Similarity.pqIndexState(e)) match {
      case (Some((cents, lists)), Some((books, codes))) =>
        val fs = Similarity.ivfPqTopKFromState(e, cents, lists, books, codes)
        fs.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(fs).isEmpty
      case _ => false
    }
    Seq(("ivfpq_state", same)).toDF("variant", "state_equals_inline")
  }

  /** ANN recall as DATA: measure recall@5 of each approximate variant
    * against the exact brute-force top-k (50 rows collected — a
    * diagnostic-sized driver set) and report whether it clears its pinned
    * floor. The floors regression-lock the ANN quality the same way hash
    * oracles lock exact results — a probing/banding change that drops
    * recall below floor flips `meets_floor` and fails the gate.
    * Kept alongside the per-variant gates as the cross-variant summary
    * (intersects the SAME memoized top-k results the entries serve). */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Seq("lsh", "ivf", "rp", "sq8", "pq", "ivfpq").map { v =>
      val df = v match {
        case "lsh" => simTopKLsh(spark, dir)
        case "ivf" => simTopKIvf(spark, dir)
        case "sq8" => simTopKSq8(spark, dir)
        case "pq"  => simTopKPq(spark, dir)
        case "ivfpq" => simTopKIvfPq(spark, dir)
        case _     => simTopKRp(spark, dir)
      }
      val floor = annFloorsE4(v)
      (v, floor, math.floor(recallVsExact(spark, dir, df) * 1e4 + 0.5).toLong >= floor)
    }
    rows.toDF("variant", "floor_e4", "meets_floor")
  }

  /** The corpus DATA CARD: one `(metric, value)` table summarizing the
    * corpus the way a dataset datasheet does — size (docs/tokens/langs/
    * sources), vocabulary shape (vocab, Zipf slope, head mass),
    * quality (Gopher pass rate), duplication (share of docs in near-dup
    * clusters) and benchmark contamination, every number produced by
    * the SAME operator the corresponding standalone entry gates (the
    * cluster and Gopher tables even reuse the memoized computations),
    * and the oracle assembled from the SAME CTE fragments — so the card
    * can never drift from the operators it summarizes. All shares are
    * e4 with the one truncating-div form. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = docs(spark, dir)
    val totals = d.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val z = graft.llm.Mining.zipf(d).select(col("vocab"), col("total_tokens"),
      col("top100_e4"), col("slope_e4"))
    val gp = gopherVerdicts(spark, dir)
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("gpass"))
    val dd = dupClusters(spark, dir).filter(!col("keep"))
      .agg(count(lit(1)).as("dup_docs"))
    val cc = Curation.decontaminate(d)
      .agg(count(lit(1)).as("contam_docs"))
    totals.crossJoin(broadcast(z)).crossJoin(broadcast(gp))
      .crossJoin(broadcast(dd)).crossJoin(broadcast(cc))
      .selectExpr(
        """stack(11,
          |  'n_docs', n_docs,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources,
          |  'n_tokens', total_tokens,
          |  'mean_doc_tokens', total_tokens div n_docs,
          |  'vocab', vocab,
          |  'top100_mass_e4', top100_e4,
          |  'zipf_slope_e4', slope_e4,
          |  'gopher_pass_e4', gpass * 10000 div n_docs,
          |  'dup_doc_e4', dup_docs * 10000 div n_docs,
          |  'contam_e4', contam_docs * 10000 div n_docs
          |) as (metric, value)""".stripMargin)
  }

  def sample(spark: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(docs(spark, dir))

  def mixture(spark: SparkSession, dir: String): DataFrame =
    Curation.mixture(docs(spark, dir))

  def pack(spark: SparkSession, dir: String): DataFrame =
    Curation.pack(docs(spark, dir))

  def chunk(spark: SparkSession, dir: String): DataFrame =
    Curation.chunk(docs(spark, dir))

  def decontam(spark: SparkSession, dir: String): DataFrame =
    Curation.decontaminate(docs(spark, dir))

  def decontamBloom(spark: SparkSession, dir: String): DataFrame =
    Curation.decontamBloomGate(docs(spark, dir))

  def tfidf(spark: SparkSession, dir: String): DataFrame =
    Curation.tfidf(docs(spark, dir))

  def redact(spark: SparkSession, dir: String): DataFrame =
    Curation.redact(docs(spark, dir))

  def repetition(spark: SparkSession, dir: String): DataFrame =
    Repetition.metrics(docs(spark, dir))

  def gopherFilter(spark: SparkSession, dir: String): DataFrame =
    gopherVerdicts(spark, dir)

  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    Repetition.boilerplate(docs(spark, dir))

  /** k-means as gated DATA (the ANN-floor pattern): double averaging is
    * not bit-portable across engines, so the gate pins Lloyd's invariants
    * — inertia never increases, total improvement clears a floor far
    * under the observed ~40%, and every cluster stays populated. */
  def kmeansGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (asg, inertias) = Clustering.kmeans(emb(spark, dir), k = 16, iters = 3)
    val monotone = inertias.sliding(2).forall {
      case Seq(a, b) => b <= a * (1 + 1e-9); case _ => true
    }
    val improved = 1.0 - inertias.last / inertias.head
    val nClusters = asg.select("cluster").distinct().count()
    Seq(
      ("monotone", 1L, monotone),
      ("improved", 2500L, improved >= 0.25),
      ("clusters", 16L, nClusters == 16L)
    ).toDF("variant", "floor_e4", "meets_floor")
  }

  /** Both BPE learners' rules memoized per (session, dir) — one word
    * table, one distributed learning, one naive learning, shared by the
    * two tokenizer gates. A plain value (no persisted state to leak,
    * unlike the [[Memo]] DataFrames), so a getOrElseUpdate race at worst
    * recomputes once. */
  private val bpeRulesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.llm.Bpe.Learned]
  private def bpeRules(spark: SparkSession, dir: String): graft.llm.Bpe.Learned = {
    bpeRulesCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    bpeRulesCache.getOrElseUpdate((spark, dir),
      graft.llm.Bpe.learnBoth(docs(spark, dir)))
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_kmeans" -> (kmeansGate _),
    "llm_dsir" ->
      ((s: SparkSession, d: String) => graft.llm.Dsir.select(docs(s, d))),
    "llm_curriculum" ->
      ((s: SparkSession, d: String) => Curation.curriculum(docs(s, d))),
    // ONE rule learning (memoized per session+dir) feeds both BPE gates
    "llm_bpe" ->
      ((s: SparkSession, d: String) => {
        val l = bpeRules(s, d)
        graft.llm.Bpe.gate(docs(s, d), l.dist, l.naive)
      }),
    "llm_bpe_tokens" ->
      ((s: SparkSession, d: String) => {
        val l = bpeRules(s, d)
        graft.llm.Bpe.segmentGate(docs(s, d), l.dist, l.naive)
      }),
    "llm_bpe_fertility" ->
      ((s: SparkSession, d: String) => {
        val l = bpeRules(s, d)
        graft.llm.Bpe.fertilityGate(docs(s, d), l.dist, l.naive)
      }),
    "llm_sample" -> (sample _),
    "llm_mixture" -> (mixture _),
    "llm_pack" -> (pack _),
    "llm_pack_bins" ->
      ((s: SparkSession, d: String) => Curation.packStats(docs(s, d))),
    "llm_chunk" -> (chunk _),
    // content-DEFINED chunking: gear-hash boundaries, insertion-robust
    // chunk table + chunk-level keep-one dedup profile
    "llm_cdc_chunks" ->
      ((s: SparkSession, d: String) => graft.llm.Dedup.cdcChunks(docs(s, d))),
    "llm_cdc_dedup" ->
      ((s: SparkSession, d: String) => graft.llm.Dedup.cdcDedup(docs(s, d))),
    // the most-duplicated chunk contents — the "what IS the boilerplate"
    // diagnostic the per-doc dup profiles point at
    "llm_cdc_hot" ->
      ((s: SparkSession, d: String) => graft.llm.Dedup.cdcHotChunks(docs(s, d))),
    // incremental CDC: incoming snapshot's chunks gated against the
    // history chunk table (recomputed here; production reads it back)
    "llm_cdc_incr" ->
      ((s: SparkSession, d: String) => {
        val cut = snapshotCut(s, d)
        val dd = docs(s, d)
        graft.llm.Dedup.cdcDedupAgainst(
          graft.llm.Dedup.cdcChunks(dd.filter(col("doc_id") < cut)),
          dd.filter(col("doc_id") >= cut))
      }),
    // the STREAMING dedup-on-ingest gate's chunk-level verdicts — the
    // same stateless plan curates a crawl incrementally (StreamCdcSpec
    // pins batch ≡ stream with zero state operators)
    "stream_cdc" ->
      ((s: SparkSession, d: String) => {
        val cut = snapshotCut(s, d)
        val dd = docs(s, d)
        graft.llm.Dedup.cdcGateVerdicts(
          graft.llm.Dedup.cdcChunks(dd.filter(col("doc_id") < cut)),
          dd.filter(col("doc_id") >= cut))
      }),
    "llm_decontam" -> (decontam _),
    // decontamination by CUT — benchmark-overlapping spans removed from
    // training docs (the surgical variant of the drop-the-doc flag)
    "llm_decontam_cut" ->
      ((s: SparkSession, d: String) => Curation.decontamCut(docs(s, d))),
    "llm_decontam_bloom" -> (decontamBloom _),
    "llm_tfidf" -> (tfidf _),
    "llm_redact" -> (redact _),
    "llm_repetition" -> (repetition _),
    "llm_gopher_filter" -> (gopherFilter _),
    "llm_boilerplate" -> (boilerplate _),
    "llm_heavy_hitters" ->
      ((s: SparkSession, d: String) => graft.operators.Sketches.heavyHitters(s, d)),
    "llm_dedup_exact" -> (dedupExact _),
    "llm_dedup_near" -> (dedupNear _),
    "llm_dedup_ngram" -> (dedupNgram _),
    // the FORCED prefix-filtered path under the oracle gate: every gate
    // corpus's tiny vocabulary makes the dispatcher take the bitset
    // kernel, so this entry pins the large-vocabulary plan itself —
    // over a deterministic md5 doc sample capped at NgramGateSampleCap
    // (fraction 1.0 through sf1, 1/10 at sf10) so the deliberately
    // vocab-degenerate gate corpora can't drive it quadratic
    "llm_dedup_ngram_ppjoin" ->
      ((s: SparkSession, d: String) =>
        graft.llm.Dedup.ngramJaccardViaPrefix(sampledDocs(s, d))),
    "llm_dup_clusters" -> (dupClusters _),
    "llm_dup_profile" -> (dupProfile _),
    "llm_dedup_apply" -> (dedupApply _),
    "llm_split" -> (split _),
    "llm_split_leakage" ->
      ((s: SparkSession, d: String) =>
        Curation.splitLeakage(ngramPairs(s, d))),
    "llm_quality_calibration" ->
      ((s: SparkSession, d: String) => Curation.qualityCalibration(
        docs(s, d), gopherVerdicts(s, d).select("doc_id", "keep"))),
    "llm_lm_score" -> (lmScore _),
    "llm_ccnet_buckets" -> (ccnetBuckets _),
    "llm_semdedup" -> (semDedupGate _),
    "llm_simhash" -> (simhash _),
    "llm_text_stats" -> (textStats _),
    "llm_char_entropy" ->
      ((s: SparkSession, d: String) => TextStats.charEntropy(docs(s, d))),
    "llm_sim_topk" -> (simTopK _),
    // each variant entry computes its full top-k and gates its recall
    // against the exact result — oracle-checkable despite being
    // approximate by design (raw top-k stays available via Similarity.*)
    "llm_sim_topk_lsh" -> (simTopKLshGate _),
    "llm_sim_topk_ivf" -> (simTopKIvfGate _),
    "llm_sim_topk_rp" -> (simTopKRpGate _),
    "llm_sim_topk_sq8" -> (simTopKSq8Gate _),
    "llm_sim_topk_pq" -> (simTopKPqGate _),
    "llm_sim_topk_ivfpq" -> (simTopKIvfPqGate _),
    // build-once/query-from-state split for the PQ index: from-state
    // verdicts must equal a second build's bit-for-bit
    "llm_ann_pq_state" -> (annPqStateGate _),
    "llm_ann_ivfpq_state" -> (annIvfPqStateGate _),
    "llm_ann_sweep" -> (annIvfSweep _),
    "llm_multimodal" -> (multimodal _),
    "llm_pcm_frames" -> (pcmFrames _),
    "llm_pcm_downsample" ->
      ((s: SparkSession, d: String) => Multimodal.pcmDownsample(docs(s, d))),
    "llm_thumbnail" ->
      ((s: SparkSession, d: String) => Multimodal.thumbnails(docs(s, d))),
    "llm_thumbnail_pool" ->
      ((s: SparkSession, d: String) => Multimodal.thumbnailPool(docs(s, d))),
    // perceptual image hash over the opaque BMP column — the print
    // table an image-dedup store persists (8 bytes per image)
    "llm_image_phash" ->
      ((s: SparkSession, d: String) => Multimodal.imagePhash(docs(s, d))),
    // image near-dedup verdicts over the prints — the text SimHash
    // pigeonhole machinery applied to the perceptual hash
    "llm_image_dedup" ->
      ((s: SparkSession, d: String) => Multimodal.imagePhashDedup(docs(s, d))),
    // energy-envelope audio fingerprint over the opaque WAV column —
    // the print table an audio-dedup store persists (8 bytes per clip)
    "llm_audio_phash" ->
      ((s: SparkSession, d: String) => Multimodal.audioPhash(docs(s, d))),
    // audio near-dedup verdicts over the envelope prints — the third
    // consumer of the shared pigeonhole Hamming machinery
    "llm_audio_dedup" ->
      ((s: SparkSession, d: String) => Multimodal.audioPhashDedup(docs(s, d))),
    // video modality over its own RIFF/AVI fixture column: real
    // container parse (avih) + frame sampling off real movi offsets
    "llm_video_meta" ->
      ((s: SparkSession, d: String) => Multimodal.videoMeta(docs(s, d))),
    "llm_video_frames" ->
      ((s: SparkSession, d: String) => Multimodal.videoFrameSample(docs(s, d))),
    // temporal-majority perceptual clip prints + the FOURTH consumer of
    // the shared pigeonhole Hamming machinery (text/image/audio/video)
    "llm_video_phash" ->
      ((s: SparkSession, d: String) => Multimodal.videoPhash(docs(s, d))),
    "llm_video_dedup" ->
      ((s: SparkSession, d: String) => Multimodal.videoPhashDedup(docs(s, d))),
    "llm_dedup_embed" -> (embedNearDup _),
    "llm_dedup_embed_blocked" -> (embedNearDupBlocked _),
    "llm_fingerprint" -> (fingerprint _),
    "llm_ann_recall" -> (annRecall _),
    // ONE persisted gram-count table (memoized per session+dir) feeds both
    // the collocation miner and the bigram LM — the production shape: the
    // expensive corpus pass is shared, the per-entry plans are vocab-sized
    "llm_collocations" ->
      ((s: SparkSession, d: String) =>
        graft.llm.Mining.collocationsFrom(gramCounts(s, d))),
    "llm_lm2_score" ->
      ((s: SparkSession, d: String) =>
        graft.llm.Mining.lm2Score(docs(s, d), gramCounts(s, d))),
    // DoReMi reuses the same persisted gram table as the bigram LM it
    // scores with — no extra corpus pass beyond the two LM streams
    "llm_doremi" ->
      ((s: SparkSession, d: String) =>
        graft.llm.DoReMi.domainWeights(docs(s, d), gramCounts(s, d))),
    // Kneser-Ney bigram perplexity over the SAME persisted gram table as
    // the add-one LM and DoReMi — the CCNet/KenLM smoothing family
    "llm_kn_perplexity" ->
      ((s: SparkSession, d: String) =>
        graft.llm.Mining.knScore(docs(s, d), gramCounts(s, d))),
    // exact frequent tokens via a Misra-Gries prune + bounded verify —
    // never a vocabulary-wide aggregation
    "llm_heavy_tokens" ->
      ((s: SparkSession, d: String) => graft.llm.Mining.heavyTokens(docs(s, d))),
    "llm_bm25" ->
      ((s: SparkSession, d: String) => graft.llm.Mining.bm25(docs(s, d))),
    // memoized like llm_collocations: fuzzyDecontam persists its shingle
    // table mid-plan (see the OpCaches churn note there)
    "llm_decontam_fuzzy" ->
      ((s: SparkSession, d: String) =>
        memo(miningCache, s, s"fuzzy|$d")(graft.llm.Mining.fuzzyDecontam(docs(s, d)))),
    // detection and cut share ONE persisted duplicated-gram ownership
    // table (r18; §5 reuse — each entry previously paid its own full
    // count-pass gram generation); each still re-generates only its own
    // corpus-sized mark stream, which is never persisted
    "llm_dup_spans" ->
      ((s: SparkSession, d: String) =>
        graft.llm.Mining.dupSpans(docs(s, d), hotGrams(s, d))),
    // the APPLY step of the span detection — keep-one cut at token
    // granularity (the llm_dedup_apply analog for spans)
    "llm_dup_span_cut" ->
      ((s: SparkSession, d: String) =>
        graft.llm.Mining.dupSpanCut(docs(s, d), hotGrams(s, d))),
    "llm_source_overlap" ->
      ((s: SparkSession, d: String) =>
        memo(miningCache, s, s"srcoverlap|$d")(graft.llm.Mining.sourceOverlap(docs(s, d)))),
    "llm_novelty" ->
      ((s: SparkSession, d: String) => graft.llm.Mining.novelty(docs(s, d))),
    "llm_quality_score" ->
      ((s: SparkSession, d: String) => Curation.qualityScore(docs(s, d))),
    "llm_domain_cap" ->
      ((s: SparkSession, d: String) => Curation.domainCap(docs(s, d))),
    "llm_length_outliers" ->
      ((s: SparkSession, d: String) => Curation.lengthOutliers(docs(s, d))),
    "llm_length_profile" ->
      ((s: SparkSession, d: String) => Curation.lengthProfile(docs(s, d))),
    "llm_shuffle" ->
      ((s: SparkSession, d: String) => Curation.shuffleOrder(docs(s, d))),
    "llm_weighted_sample" ->
      ((s: SparkSession, d: String) => Curation.weightedSample(docs(s, d))),
    "llm_pipeline" -> (pipeline _),
    "llm_pipeline_funnel" -> (pipelineFunnel _),
    "stream_curation" ->
      ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.{sum, when, lit}
        // conditional aggregation, NOT .where(keep): a filter on the
        // verdict pushes the keep expression below the projection chain
        // and re-inlines the tokenizer into every heavy reference of the
        // reason CASE (measured ~100x on sf0.1 — PLANS.md round 12); the
        // aggregate consumes the projected boolean once per row
        Curation.curationVerdicts(docs(s, d))
          .groupBy("lang")
          .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs"),
            sum(when(col("keep"), col("doc_id"))).as("sum_doc_id"))
          .where(col("n_docs") > 0)
      }),
    "llm_embed_outliers" ->
      ((s: SparkSession, d: String) => Similarity.embedOutliers(emb(s, d))),
    "llm_embed_quantize" ->
      ((s: SparkSession, d: String) => Similarity.embedQuantize(emb(s, d))),
    "llm_source_kl" ->
      ((s: SparkSession, d: String) =>
        memo(miningCache, s, s"srckl|$d")(graft.llm.Mining.sourceKl(docs(s, d)))),
    "llm_drift" ->
      ((s: SparkSession, d: String) =>
        memo(miningCache, s, s"drift|$d")(graft.llm.Mining.drift(docs(s, d)))),
    "llm_vocab_growth" ->
      ((s: SparkSession, d: String) => graft.llm.Mining.vocabGrowth(docs(s, d))),
    "llm_zipf" ->
      ((s: SparkSession, d: String) => graft.llm.Mining.zipf(docs(s, d))),
    "llm_token_budget" ->
      ((s: SparkSession, d: String) => Curation.tokenBudget(docs(s, d))),
    "llm_dedup_incr_near" -> (dedupIncrNear _),
    "llm_dedup_incr_apply" -> (dedupIncrApply _),
    "llm_corpus_card" -> (corpusCard _),
    "llm_quality_pairs" ->
      ((s: SparkSession, d: String) => Curation.qualityPairs(docs(s, d))),
    "llm_langid_eval" ->
      ((s: SparkSession, d: String) => TextStats.langidEval(docs(s, d))),
    "llm_blocklist" ->
      ((s: SparkSession, d: String) => Curation.blocklistFilter(docs(s, d))),
    "llm_dedup_simhash" ->
      ((s: SparkSession, d: String) => SimHash.hammingDedup(docs(s, d))),
    // threshold-calibration sweep over the SAME memoized pair table the
    // ngram/cluster/apply entries consume: per e3 similarity band, the
    // pair count and band extrema — the "where would moving the dedup
    // threshold land" decision table, one tiny aggregate over candidates
    "llm_dedup_sweep" ->
      ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.{count, lit, max, min}
        ngramPairs(s, d)
          .groupBy(org.apache.spark.sql.functions
            .expr("(jaccard_r div 1000) * 1000").as("band_lo_e4"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("jaccard_r")).as("min_r"),
            max(col("jaccard_r")).as("max_r"))
      })
  )

  /** The doc-id midpoint splitting the corpus into history (below) and
    * the incoming snapshot (at/above) — a bounded 1-row aggregate
    * collect (the stream_incr_dedup cutoff pattern), pure integer
    * arithmetic mirrored by the oracles. */
  private val snapshotCutCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private def snapshotCut(spark: SparkSession, dir: String): Long = {
    // memoized like bpeRules (a plain value — a getOrElseUpdate race at
    // worst recomputes once): the verdict entry and the applied accept
    // would otherwise each run this driver-blocking aggregate
    snapshotCutCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    snapshotCutCache.getOrElseUpdate((spark, dir),
      docs(spark, dir)
        .agg(org.apache.spark.sql.functions.expr("(max(doc_id) + 1) div 2"))
        .head().getLong(0))
  }

  /** Cross-snapshot near-dedup verdicts, memoized per (session, dir)
    * like [[ngramPairs]] — the verdict table feeds BOTH the verdict
    * entry and the applied accept ([[dedupIncrApply]]), exactly how a
    * pipeline consumes it (tiny: one row per duplicate incoming doc). */
  private def incrNearVerdicts(spark: SparkSession, dir: String): DataFrame =
    memo(miningCache, spark, s"incrnear|$dir") {
      val d = docs(spark, dir)
      val cut = snapshotCut(spark, dir)
      Dedup.nearDuplicatesAgainst(
        d.filter(col("doc_id") < cut), d.filter(col("doc_id") >= cut))
    }

  def dedupIncrNear(spark: SparkSession, dir: String): DataFrame =
    incrNearVerdicts(spark, dir)

  /** The ACCEPTED snapshot: incoming docs minus the near-dup verdicts —
    * what an incremental ingest actually appends to the corpus. One
    * anti-join of the incoming metadata against the (tiny) verdict
    * table; the history side is untouched by construction. */
  def dedupIncrApply(spark: SparkSession, dir: String): DataFrame = {
    val cut = snapshotCut(spark, dir)
    docs(spark, dir)
      .filter(col("doc_id") >= cut)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .join(incrNearVerdicts(spark, dir).select("doc_id"), Seq("doc_id"),
        "left_anti")
  }

  /** The duplicate-cluster reachability closure (word-2-gram Jaccard at
    * 0.5 → undirected edges → recursive closure), shared verbatim by the
    * llm_dup_clusters and llm_dedup_apply oracles so the cluster
    * definition can never diverge between them. */
  /** The `pairs → edges → reach` closure tail over an arbitrary pairs
    * relation — ONE definition of the undirected reachability recursion,
    * shared by the full closure (all-pairs bitmap Jaccard) and the
    * bounded campaign twins (which feed it the engine's own dumped
    * `llm_dedup_ngram` pair table, see [[oraclesBoundedDownstream]]). */
  private def closureTailFrom(pairsDef: String): String =
    s"""pairs AS (
      |$pairsDef),
      |edges AS (
      |  SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM edges
      |  UNION
      |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id)""".stripMargin

  // lazy: interpolates gramBitmapCtes, a val defined further down the
  // object — eager init order would capture null
  private lazy val clusterClosureCte: String =
    s"""WITH RECURSIVE sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |    range(1, greatest(len(w) - 1, 0) + 1),
      |    i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
      |                                   t -> t != '') w
      |        FROM documents)),
      |$gramBitmapCtes,
      |${closureTailFrom(
        """  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bm a JOIN bm b ON a.doc_id < b.doc_id
          |  WHERE bit_count(a.bits & b.bits) * 1.0
          |        / (a.n + b.n - bit_count(a.bits & b.bits)) >= 0.5""".stripMargin)}"""
      .stripMargin

  /** The closure over the ENGINE's dumped `llm_dedup_ngram` pair table
    * (`{OUT}` is substituted with the campaign dump dir by
    * verify_local). Same pair set as the full closure's `pairs` CTE by
    * definition of llm_dedup_ngram (word-2-gram Jaccard >= 0.5), whose
    * own bounded twin verifies it at every campaign decade. */
  private lazy val enginePairsSql: String =
    "  SELECT doc_a, doc_b FROM read_parquet('{OUT}/llm_dedup_ngram/*.parquet')"
  private lazy val enginePairsRSql: String =
    "  SELECT doc_a, doc_b, jaccard_r FROM read_parquet('{OUT}/llm_dedup_ngram/*.parquet')"
  private lazy val boundedClosureCte: String =
    s"WITH RECURSIVE ${closureTailFrom(enginePairsSql)}"

  /** Every pipeline stage's keep/drop set plus the composed survivor
    * set (`keep`) as ONE CTE chain — shared verbatim by the llm_pipeline
    * and llm_pipeline_funnel oracles so the stage semantics cannot
    * diverge between the composition and its observability twin. */
  private lazy val pipelineStageCtes: String =
    pipelineStageCtesWith(clusterClosureCte)

  private def pipelineStageCtesWith(closure: String): String =
    s"""$closure,
       |dropped AS (SELECT id FROM reach GROUP BY id HAVING id != min(r)),
       |${Repetition.gopherCtes},
       |${Curation.decontamCtes("csh", "cbench")},
       |contam AS (
       |  SELECT DISTINCT doc_id FROM csh JOIN cbench USING (g)
       |  WHERE doc_id % 17 != 0),
       |${graft.llm.Mining.dupSpansCtes("ds_")},
       |span_drop AS (
       |  SELECT doc_id FROM ds_sp
       |  WHERE dup_frac_e4 >= ${graft.llm.Mining.DupSpanDropE4}),
       |${Curation.pipelineCapKeepCte("cap_keep")},
       |${Curation.mixtureKeepCtes("mx_")},
       |${Curation.qualityKeepCte("mdl_keep")},
       |blk_keep AS (
       |  SELECT doc_id FROM (${Curation.blocklistOracle}) WHERE keep),
       |keep AS (
       |  SELECT doc_id::BIGINT AS doc_id, lang, source,
       |    len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                    t -> t != ''))::BIGINT AS n_tok
       |  FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM v WHERE reason = 'ok')
       |    AND doc_id IN (SELECT doc_id FROM mdl_keep)
       |    AND doc_id IN (SELECT doc_id FROM blk_keep)
       |    AND doc_id IN (SELECT doc_id FROM cap_keep)
       |    AND doc_id IN (SELECT doc_id FROM mx_keep)
       |    AND ${Curation.sampleKeepSql}
       |    AND doc_id NOT IN (SELECT id FROM dropped)
       |    AND doc_id NOT IN (SELECT doc_id FROM span_drop)
       |    AND doc_id NOT IN (SELECT doc_id FROM contam))""".stripMargin

  /** The composed-pipeline oracle body over a given stage-CTE chain —
    * ONE tail, shared by the full oracle (all-pairs closure) and the
    * bounded campaign twin (engine-pair-fed closure). */
  private def pipelineSqlWith(stages: String): String =
    s"""$stages,
       |sv_a AS (
       |  SELECT source, sum(n_tok)::BIGINT AS tokens_avail
       |  FROM keep GROUP BY 1 HAVING tokens_avail > 0),
       |${Curation.tokenBudgetAlgebraCtes("sv_a", "bg_",
             Curation.PipelineBudgetMultipleE2)},
       |bud AS (
       |  SELECT source, least(tokens_avail, tokens_got) AS cap_tok
       |  FROM bg_rep),
       |cum AS (
       |  SELECT k.*, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
       |  FROM keep k),
       |fin AS (
       |  SELECT doc_id, lang FROM cum JOIN bud USING (source)
       |  WHERE cum_in <= cap_tok)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  sum(doc_id)::BIGINT AS sum_doc_id
       |FROM fin GROUP BY lang""".stripMargin

  private def pipelineFunnelSqlWith(stages: String): String =
    s"""$stages
       |SELECT 0::BIGINT AS ord, 'corpus' AS stage,
       |  (SELECT count(*) FROM documents)::BIGINT AS n_docs
       |UNION ALL SELECT 1, 'gopher_keep',
       |  (SELECT count(*) FROM v WHERE reason = 'ok')
       |UNION ALL SELECT 2, 'model_keep', (SELECT count(*) FROM mdl_keep)
       |UNION ALL SELECT 3, 'blocklist_keep', (SELECT count(*) FROM blk_keep)
       |UNION ALL SELECT 4, 'cap_keep', (SELECT count(*) FROM cap_keep)
       |UNION ALL SELECT 5, 'mixture_keep', (SELECT count(*) FROM mx_keep)
       |UNION ALL SELECT 6, 'sample_keep',
       |  (SELECT count(*) FROM documents WHERE ${Curation.sampleKeepSql})
       |UNION ALL SELECT 7, 'dup_drop', (SELECT count(*) FROM dropped)
       |UNION ALL SELECT 8, 'span_drop', (SELECT count(*) FROM span_drop)
       |UNION ALL SELECT 9, 'contam_drop', (SELECT count(*) FROM contam)
       |UNION ALL SELECT 10, 'survivors', (SELECT count(*) FROM keep)""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_kmeans" ->
      """SELECT * FROM (VALUES
        |  ('monotone', 1::BIGINT, true), ('improved', 2500::BIGINT, true),
        |  ('clusters', 16::BIGINT, true)
        |) t(variant, floor_e4, meets_floor)""".stripMargin,
    "llm_sample" -> Curation.sampleOracle,
    "llm_dsir" -> graft.llm.Dsir.selectOracle,
    "llm_curriculum" -> Curation.curriculumOracle,
    "llm_bpe" -> graft.llm.Bpe.gateOracle,
    "llm_bpe_tokens" -> graft.llm.Bpe.segmentGateOracle,
    "llm_bpe_fertility" -> graft.llm.Bpe.fertilityGateOracle,
    "llm_collocations" -> graft.llm.Mining.collocationsOracle,
    "llm_bm25" -> graft.llm.Mining.bm25Oracle,
    "llm_lm2_score" -> graft.llm.Mining.lm2ScoreOracle,
    "llm_kn_perplexity" -> graft.llm.Mining.knScoreOracle,
    "llm_heavy_tokens" -> graft.llm.Mining.heavyTokensOracle,
    "llm_doremi" -> graft.llm.DoReMi.domainWeightsOracle,
    "llm_decontam_fuzzy" -> graft.llm.Mining.fuzzyDecontamOracle,
    "llm_dup_spans" -> graft.llm.Mining.dupSpansOracle,
    "llm_dup_span_cut" -> graft.llm.Mining.dupSpanCutOracle,
    "llm_domain_cap" -> Curation.domainCapOracle,
    "llm_length_outliers" -> Curation.lengthOutliersOracle,
    "llm_source_overlap" -> graft.llm.Mining.sourceOverlapOracle,
    "llm_novelty" -> graft.llm.Mining.noveltyOracle,
    "llm_quality_score" -> Curation.qualityScoreOracle,
    "llm_length_profile" -> Curation.lengthProfileOracle,
    "llm_shuffle" -> Curation.shuffleOrderOracle,
    "llm_weighted_sample" -> Curation.weightedSampleOracle,
    // the composed pipeline's oracle is assembled from the SAME CTE
    // definitions the standalone stage oracles use (closure, gopher
    // rules, decontam shingles, sample predicate) — the stage semantics
    // cannot diverge between the standalone gates and the composition
    "llm_pipeline" -> pipelineSqlWith(pipelineStageCtes),
    // the funnel counts the SAME stage CTEs the composition filters by
    "llm_pipeline_funnel" -> pipelineFunnelSqlWith(pipelineStageCtes),
    "llm_embed_outliers" -> Similarity.embedOutliersOracle,
    "llm_embed_quantize" -> Similarity.embedQuantizeOracle,
    "llm_source_kl" -> graft.llm.Mining.sourceKlOracle,
    "llm_drift" -> graft.llm.Mining.driftOracle,
    "llm_mixture" -> Curation.mixtureOracle,
    "llm_pack" -> Curation.packOracle,
    "llm_pack_bins" -> Curation.packStatsOracle,
    "llm_chunk" -> Curation.chunkOracle,
    "llm_cdc_chunks" -> graft.llm.Dedup.cdcChunksOracle,
    "llm_cdc_dedup" -> graft.llm.Dedup.cdcDedupOracle,
    "llm_cdc_incr" -> graft.llm.Dedup.cdcIncrOracle,
    "llm_cdc_hot" -> graft.llm.Dedup.cdcHotOracle,
    "stream_cdc" -> graft.llm.Dedup.cdcStreamOracle,
    "llm_decontam" -> Curation.decontamOracle,
    "llm_decontam_cut" -> Curation.decontamCutOracle,
    "llm_decontam_bloom" -> Curation.decontamBloomOracle,
    "llm_tfidf" -> Curation.tfidfOracle,
    "llm_redact" -> Curation.redactOracle,
    "llm_repetition" -> Repetition.metricsOracle,
    "llm_gopher_filter" -> Repetition.gopherFilterOracle,
    "llm_boilerplate" -> Repetition.boilerplateOracle,
    "llm_heavy_hitters" -> graft.operators.Sketches.heavyHittersOracle,
    "llm_dedup_exact" ->
      """SELECT min(doc_id)::BIGINT AS doc_id, md5(text) AS text_hash,
        |  count(*)::BIGINT AS dups
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // exact all-pairs word-3-shingle Jaccard — feasible at oracle scale; the
    // Spark side reaches the same pairs via LSH banding + exact verification
    "llm_dedup_near" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 2, 0) + 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'),
        |                                   t -> t != '') w
        |        FROM documents)),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |  FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
        |SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
        |  floor(c * 1.0e4 / (sa.n + sb.n - c) + 0.5)::BIGINT AS jaccard_r
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = inter.doc_a
        |JOIN sizes sb ON sb.doc_id = inter.doc_b
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8""".stripMargin,

    // exact word-2-gram Jaccard at 0.5 — the oracle is the plain all-pairs
    // inverted-index form; the Spark side reaches the SAME pairs through the
    // exactness-preserving prefix filter (AllPairs/PPJoin)
    "llm_dedup_ngram" -> ngramPairsOracle,
    // the forced-prefix gate: the IDENTICAL pair definition over the
    // md5 doc sample (same bucket arithmetic as the engine's
    // sampledDocs; the CASE mirrors its integer threshold exactly)
    "llm_dedup_ngram_ppjoin" ->
      s"""WITH tot AS (SELECT count(*) AS n FROM documents),
         |sdocs AS (
         |  SELECT d.* FROM documents d, tot
         |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::UBIGINT
         |          % 1000000
         |        < CASE WHEN tot.n <= 20000 THEN 1000000
         |               ELSE greatest(1, 20000::BIGINT * 1000000 // tot.n) END),
         |${ngramPairsOracleOver("sdocs").replaceFirst("WITH ", "")}""".stripMargin,

    // the threshold-calibration sweep over the SAME pair table: how many
    // pairs each similarity band holds (where would moving the dedup
    // knob land?) — oracle wraps the ngram oracle verbatim
    "llm_dedup_sweep" -> dedupSweepSqlWith(s"($ngramPairsOracle)")
  ) ++ moreOracles

  /** Threshold-calibration sweep body over a pair relation carrying
    * (doc_a, doc_b, jaccard_r) — shared by the full oracle and the
    * engine-pair-fed bounded twin. */
  private def dedupSweepSqlWith(pairsRel: String): String =
    s"""WITH p AS (SELECT * FROM $pairsRel _p)
       |SELECT (jaccard_r // 1000) * 1000 AS band_lo_e4,
       |  count(*)::BIGINT AS n_pairs,
       |  min(jaccard_r) AS min_r, max(jaccard_r) AS max_r
       |FROM p GROUP BY 1""".stripMargin

  /** Cluster/profile/apply/leakage oracle bodies over a given closure
    * (or pair) source — ONE definition each, shared by the full oracles
    * and the engine-pair-fed bounded campaign twins
    * ([[oraclesBoundedDownstream]]). */
  private def dupClustersSqlWith(closure: String): String =
    s"""$closure
       |SELECT id::BIGINT AS doc_id, min(r)::BIGINT AS cluster_id,
       |  (id = min(r)) AS keep
       |FROM reach GROUP BY id""".stripMargin

  private def dupProfileSqlWith(closure: String): String =
    s"""$closure,
       |cl AS (
       |  SELECT id::BIGINT AS doc_id, min(r)::BIGINT AS cluster_id,
       |    (id = min(r)) AS keep
       |  FROM reach GROUP BY id),
       |j AS (
       |  SELECT d.source, cl.cluster_id, cl.keep
       |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
       |base AS (
       |  SELECT source, count(*)::BIGINT AS n_docs
       |  FROM documents GROUP BY 1)
       |SELECT b.source, b.n_docs,
       |  count(j.cluster_id)::BIGINT AS n_clustered,
       |  coalesce(sum(CASE WHEN NOT j.keep THEN 1 ELSE 0 END), 0)::BIGINT
       |    AS n_dropped,
       |  count(DISTINCT j.cluster_id)::BIGINT AS n_clusters,
       |  (coalesce(sum(CASE WHEN NOT j.keep THEN 1 ELSE 0 END), 0)
       |    * 10000 // b.n_docs)::BIGINT AS dup_frac_e4
       |FROM base b LEFT JOIN j USING (source)
       |GROUP BY 1, 2""".stripMargin

  private def dedupApplySqlWith(closure: String): String =
    s"""$closure,
       |dropped AS (SELECT id FROM reach GROUP BY id HAVING id != min(r))
       |SELECT doc_id::BIGINT AS doc_id, lang, source, n_chars::BIGINT AS n_chars
       |FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  private def corpusCardSqlWith(closure: String): String =
    s"""$closure,
       |dropped AS (SELECT id FROM reach GROUP BY id HAVING id != min(r)),
       |${graft.llm.Repetition.gopherCtes},
       |${Curation.decontamCtes("csh", "cbench")},
       |contam AS (
       |  SELECT DISTINCT doc_id FROM csh JOIN cbench USING (g)
       |  WHERE doc_id % 17 != 0),
       |${graft.llm.Mining.zipfCtes},
       |nd AS (SELECT count(*)::BIGINT AS n_docs,
       |         count(DISTINCT lang)::BIGINT AS n_langs,
       |         count(DISTINCT source)::BIGINT AS n_sources
       |       FROM documents)
       |SELECT 'n_docs' AS metric, n_docs::BIGINT AS value FROM nd
       |UNION ALL SELECT 'n_langs', n_langs FROM nd
       |UNION ALL SELECT 'n_sources', n_sources FROM nd
       |UNION ALL SELECT 'n_tokens', n FROM ztot
       |UNION ALL SELECT 'mean_doc_tokens', (n // n_docs)::BIGINT
       |  FROM ztot, nd
       |UNION ALL SELECT 'vocab', vocab FROM ztot
       |UNION ALL SELECT 'top100_mass_e4', (m100 * 10000 // n)::BIGINT
       |  FROM zsl, ztot
       |UNION ALL SELECT 'zipf_slope_e4',
       |  ((num // den) * 10000 + (num % den) * 10000 // den)::BIGINT
       |  FROM zsl
       |UNION ALL SELECT 'gopher_pass_e4',
       |  ((SELECT count(*) FROM v WHERE reason = 'ok') * 10000
       |    // n_docs)::BIGINT FROM nd
       |UNION ALL SELECT 'dup_doc_e4',
       |  ((SELECT count(*) FROM dropped) * 10000 // n_docs)::BIGINT
       |  FROM nd
       |UNION ALL SELECT 'contam_e4',
       |  ((SELECT count(*) FROM contam) * 10000 // n_docs)::BIGINT
       |  FROM nd""".stripMargin

  private def splitLeakageSqlWith(pairsRel: String): String =
    s"""WITH p AS (SELECT * FROM $pairsRel _p),
       |sp AS (
       |  SELECT doc_a, doc_b, jaccard_r,
       |    ${Curation.splitCaseSqlOf("doc_a")} AS sa,
       |    ${Curation.splitCaseSqlOf("doc_b")} AS sb
       |  FROM p),
       |o AS (
       |  SELECT doc_b AS doc_id, sb AS split, doc_a AS train_dup, jaccard_r
       |  FROM sp WHERE sa = 'train' AND sb != 'train'
       |  UNION ALL
       |  SELECT doc_a, sa, doc_b, jaccard_r FROM sp
       |  WHERE sb = 'train' AND sa != 'train')
       |SELECT doc_id, split, count(*)::BIGINT AS n_train_dups,
       |  (max({'j': jaccard_r, 'nd': -train_dup})).j::BIGINT AS best_jaccard_r,
       |  (-(max({'j': jaccard_r, 'nd': -train_dup})).nd)::BIGINT AS best_train_dup
       |FROM o GROUP BY 1, 2""".stripMargin

  /** Shared gram-id + per-doc-bitmap CTE tail (expects an `sh(doc_id, g)`
    * CTE in scope). The corpus vocabulary is small (≤31 words at every
    * gate decade → ≤961 distinct word-2-grams), so each doc's gram SET is
    * one ≤1024-bit bitstring and exact pairwise Jaccard is
    * `bit_count(a&b) / (na+nb-bit_count(a&b))` over a plain id-ordered
    * pair scan — this replaces the inverted-index self-join
    * (`sh a JOIN sh b USING (g)` + GROUP BY pair), whose intermediate is
    * Σ df² ≈ 7·10⁹ rows at sf1 and OOM'd DuckDB's 40 GB cap in the
    * round-13 campaign. The all-pairs scan is n²/2 · 128-byte AND+popcnt
    * — ~3 min at 50k docs, and unlike the join its memory is O(n).
    * `bitstring_agg` needs CONSTANT bounds; 0..1023 covers every gate
    * corpus, and a vocabulary that outgrows it fails loudly (value out
    * of range → the campaign's oracle_infeasible status, never a wrong
    * silent result). */
  private lazy val gramBitmapCtes: String =
    """gid AS (
      |  SELECT g, dense_rank() OVER (ORDER BY g) - 1 AS id
      |  FROM (SELECT DISTINCT g FROM sh)),
      |bm AS (
      |  SELECT doc_id, bitstring_agg(id, 0, 1023) AS bits, count(*) AS n
      |  FROM sh JOIN gid USING (g) GROUP BY doc_id)""".stripMargin

  // gate-corpus predicate spliced into BOTH embed-oracle shapes: same
  // md5 bucket as the Spark side's sampledEmb (fraction 1.0 <= sf10)
  private lazy val embedNearDupOracle: String =
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings
      |  WHERE ${samplePred("vec_id", EmbedGateSampleCap, "embeddings")}),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |s AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |          / (a.nrm * b.nrm) * 1e6 + 0.5)::BIGINT AS score_r
      |  FROM n a, n b WHERE a.vec_id < b.vec_id)
      |SELECT vec_a::BIGINT AS vec_a, vec_b::BIGINT AS vec_b, score_r
      |FROM s WHERE score_r >= 450000""".stripMargin

  private lazy val ngramPairsOracle: String = ngramPairsOracleOver("documents")

  /** [[ngramPairsOracle]] over an arbitrary documents-shaped relation —
    * the sampled forced-prefix gate replays the same pair definition
    * over its deterministic md5 doc sample. */
  private def ngramPairsOracleOver(src: String): String =
      s"""WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 0) + 1),
        |    i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
        |                                   t -> t != '') w
        |        FROM $src)),
        |$gramBitmapCtes,
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(a.bits & b.bits)::BIGINT AS c, a.n AS na, b.n AS nb
        |  FROM bm a JOIN bm b ON a.doc_id < b.doc_id)
        |SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
        |  floor(c * 1.0e4 / (na + nb - c) + 0.5)::BIGINT AS jaccard_r
        |FROM inter
        |WHERE c * 1.0 / (na + nb - c) >= 0.5""".stripMargin

  private lazy val moreOracles: Map[String, String] = Map(
    // connected components over the ngram-Jaccard pairs via a recursive
    // reachability closure (feasible at oracle scale); the Spark side
    // reaches the same components by min-label propagation. ONE closure
    // definition feeds both the cluster view and the applied dedup.
    "llm_dup_clusters" -> dupClustersSqlWith(clusterClosureCte),

    // same reachability closure, profiled per source: a cross-source
    // cluster counts toward every source it touches
    "llm_dup_profile" -> dupProfileSqlWith(clusterClosureCte),

    // same reachability closure, applied: corpus minus non-survivors
    "llm_dedup_apply" -> dedupApplySqlWith(clusterClosureCte),
    "llm_split" -> Curation.splitOracle,
    // train→eval near-dup leakage over the SAME verified pair table the
    // dedup entries consume; split assignment is the pure per-row md5
    // projection — the oracle never rejoins the corpus either
    "llm_split_leakage" -> splitLeakageSqlWith(s"($ngramPairsOracle)"),
    // model-score deciles vs the SAME Gopher rule chain the standalone
    // gate runs (Repetition.gopherCtes spliced verbatim)
    "llm_quality_calibration" ->
      Curation.qualityCalibrationOracle(graft.llm.Repetition.gopherCtes),
    // the stateless per-doc gate: Gopher ∧ model ∧ blocklist — the same
    // stage CTEs the standalone gates and the pipeline oracle splice
    "stream_curation" ->
      s"""WITH ${graft.llm.Repetition.gopherCtes},
         |${Curation.qualityKeepCte("sc_mdl")},
         |sc_blk AS (
         |  SELECT doc_id FROM (${Curation.blocklistOracle}) WHERE keep)
         |SELECT d.lang, count(*)::BIGINT AS n_docs,
         |  sum(d.doc_id)::BIGINT AS sum_doc_id
         |FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM v WHERE reason = 'ok')
         |  AND d.doc_id IN (SELECT doc_id FROM sc_mdl)
         |  AND d.doc_id IN (SELECT doc_id FROM sc_blk)
         |GROUP BY 1""".stripMargin,
    "llm_lm_score" -> Curation.lmScoreOracle,
    "llm_ccnet_buckets" -> Curation.ccnetBucketsOracle,
    "llm_quality_pairs" -> Curation.qualityPairsOracle,
    // invariant gate (the kmeans-gate pattern): the clustering is
    // deterministic in-engine but not bit-portable, so the oracle pins
    // the four SemDeDup invariants as constants
    "llm_semdedup" ->
      """SELECT * FROM (VALUES
        |  ('partition', true), ('one_survivor_per_group', true),
        |  ('dropped_are_duplicates', true), ('survivors_separated', true)
        |) t("check", pass)""".stripMargin,

    "llm_simhash" ->
      """WITH hs AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(list_filter(string_split_regex(lower(text), '\W+'),
        |                              t -> t != '')),
        |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hl
        |  FROM documents)
        |SELECT doc_id::BIGINT AS doc_id,
        |  list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN list_sum(list_transform(hl,
        |           h -> CASE WHEN (h // (1::BIGINT << i)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |         THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
        |FROM hs""".stripMargin,

    "llm_text_stats" -> TextStats.oracleSql,
    "llm_char_entropy" -> TextStats.charEntropyOracle,
    "llm_langid_eval" -> TextStats.langidEvalOracle,
    "llm_blocklist" -> Curation.blocklistOracle,

    // all-pairs Hamming over the same simhash definition (feasible at
    // oracle scale); the Spark side reaches the SAME verdicts through
    // the pigeonhole band join, which is exact for d <= 2 by
    // construction — no recall asterisk to carry
    "llm_dedup_simhash" ->
      """WITH hs AS (
        |  SELECT doc_id, list_transform(
        |    list_distinct(list_filter(string_split_regex(lower(text), '\W+'),
        |                              t -> t != '')),
        |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hl
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), i ->
        |      CASE WHEN list_sum(list_transform(hl,
        |             h -> CASE WHEN (h // (1::BIGINT << i)) % 2 = 1
        |                       THEN 1 ELSE -1 END)) > 0
        |           THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS s
        |  FROM hs),
        |p AS (
        |  SELECT b.doc_id AS i, a.doc_id AS h, bit_count(xor(a.s, b.s)) AS d
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.s, b.s)) <= 2),
        |r AS (SELECT i, h, d,
        |        row_number() OVER (PARTITION BY i ORDER BY d, h) AS rn
        |      FROM p)
        |SELECT i::BIGINT AS doc_id, h::BIGINT AS dup_of, d::BIGINT AS hamming
        |FROM r WHERE rn = 1""".stripMargin,

    "llm_fingerprint" -> Fingerprint.oracleSql,

    "llm_sim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |s AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    floor(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
        |          / (q.nrm * c.nrm) * 1e6 + 0.5)::BIGINT AS score_r
        |  FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
        |r AS (SELECT qid, nid, score_r,
        |        row_number() OVER (PARTITION BY qid ORDER BY score_r DESC, nid) AS rank
        |      FROM s)
        |SELECT qid::BIGINT AS qid, nid::BIGINT AS nid, score_r,
        |  rank::BIGINT AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "llm_multimodal" -> Multimodal.oracleSql,
    "llm_pcm_frames" -> Multimodal.pcmOracleSql,
    "llm_pcm_downsample" -> Multimodal.pcmDownsampleOracle,
    "llm_thumbnail" -> Multimodal.thumbnailsOracle,
    "llm_thumbnail_pool" -> Multimodal.thumbnailPoolOracle,
    "llm_image_phash" -> Multimodal.imagePhashOracle,
    "llm_image_dedup" -> Multimodal.imageDedupOracle,
    "llm_audio_phash" -> Multimodal.audioPhashOracle,
    "llm_audio_dedup" -> Multimodal.audioDedupOracle,
    "llm_video_meta" -> Multimodal.videoMetaOracle,
    "llm_video_frames" -> Multimodal.videoFramesOracle,
    "llm_video_phash" -> Multimodal.videoPhashOracle,
    "llm_video_dedup" -> Multimodal.videoDedupOracle,

    "llm_dedup_embed" -> embedNearDupOracle,
    // the blocked path holds the IDENTICAL contract — one oracle string,
    // two engine shapes (broadcast-dispatch default vs forced blocked)
    "llm_dedup_embed_blocked" -> embedNearDupOracle,

    "llm_ann_recall" ->
      """SELECT * FROM (VALUES
        |  ('lsh', 5000::BIGINT, true), ('ivf', 4000::BIGINT, true),
        |  ('rp', 7500::BIGINT, true), ('sq8', 9000::BIGINT, true),
        |  ('pq', 7500::BIGINT, true), ('ivfpq', 7500::BIGINT, true)
        |) t(variant, floor_e4, meets_floor)""".stripMargin,

    "llm_sim_topk_lsh" ->
      "SELECT 'lsh' AS variant, 5000::BIGINT AS floor_e4, true AS meets_floor",
    "llm_sim_topk_ivf" ->
      "SELECT 'ivf' AS variant, 4000::BIGINT AS floor_e4, true AS meets_floor",
    "llm_sim_topk_rp" ->
      "SELECT 'rp' AS variant, 7500::BIGINT AS floor_e4, true AS meets_floor",
    "llm_sim_topk_sq8" ->
      "SELECT 'sq8' AS variant, 9000::BIGINT AS floor_e4, true AS meets_floor",
    "llm_sim_topk_pq" ->
      "SELECT 'pq' AS variant, 7500::BIGINT AS floor_e4, true AS meets_floor",
    "llm_sim_topk_ivfpq" ->
      "SELECT 'ivfpq' AS variant, 7500::BIGINT AS floor_e4, true AS meets_floor",
    "llm_ann_pq_state" ->
      "SELECT 'pq_state' AS variant, true AS state_equals_inline",
    "llm_ann_ivfpq_state" ->
      "SELECT 'ivfpq_state' AS variant, true AS state_equals_inline",
    "llm_ann_sweep" ->
      """SELECT * FROM (VALUES (1::BIGINT, 5000::BIGINT, true),
        |  (2::BIGINT, 5500::BIGINT, true), (4::BIGINT, 6000::BIGINT, true),
        |  (8::BIGINT, 7000::BIGINT, true), (16::BIGINT, 10000::BIGINT, true))
        |t(nprobe, floor_e4, meets_floor)""".stripMargin,

    "llm_vocab_growth" -> graft.llm.Mining.vocabGrowthOracle,
    "llm_zipf" -> graft.llm.Mining.zipfOracle,

    // the data card's oracle is assembled from the SAME CTE fragments
    // the standalone gates use (cluster closure, Gopher rules, decontam
    // shingles, Zipf chain) — the summary cannot diverge from the
    // operators it summarizes
    "llm_corpus_card" -> corpusCardSqlWith(clusterClosureCte),
    "llm_token_budget" -> Curation.tokenBudgetOracle,

    // exact cross-half all-pairs word-3-shingle Jaccard with per-incoming
    // argmax (ties toward the smallest history id) — feasible at oracle
    // scale; the Spark side reaches the same verdicts via LSH banding +
    // exact verification (the llm_dedup_near machinery, cross-corpus).
    // ONE CTE chain feeds both the verdict entry and the applied accept.
    "llm_dedup_incr_near" ->
      s"""$incrNearCte
         |SELECT i::BIGINT AS doc_id, h::BIGINT AS dup_of, jaccard_r
         |FROM r WHERE rn = 1""".stripMargin,

    "llm_dedup_incr_apply" ->
      s"""$incrNearCte
         |SELECT doc_id::BIGINT AS doc_id, lang, source,
         |  n_chars::BIGINT AS n_chars
         |FROM documents, cu
         |WHERE doc_id >= cut
         |  AND doc_id NOT IN (SELECT i FROM r WHERE rn = 1)""".stripMargin
  )

  /** Deterministic md5-bucket sample membership for `idExpr` (the
    * `llm_dedup_ngram_ppjoin` sampledDocs arithmetic): bucket below a
    * fraction chosen so ~`cap` of the documents-table rows qualify —
    * fraction 1.0 whenever the corpus is ≤ cap. DuckDB SQL used on BOTH
    * sides of a bounded compare (the same predicate restricts the
    * engine's dumped parquet), so no engine plan or hash ever moves. */
  private def samplePred(idExpr: String, cap: Long,
      universe: String = "documents"): String =
    s"('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 15))::UBIGINT % 1000000" +
      s" < (SELECT CASE WHEN count(*) <= $cap THEN 1000000" +
      s" ELSE greatest(1, ($cap::BIGINT * 1000000) // count(*)) END FROM $universe)"

  /** Bounded sf10 twins (round-15 advisor / round-16 directive 6) for
    * the band-join dedup family, whose FULL DuckDB twins are quadratic
    * in the corpus and OOM at the 500k-doc decade. Each value is
    * `(oracleSql, engineWhere)`: the twin restricts the VERDICT side to
    * a deterministic md5 doc sample while the PARTNER side stays FULL —
    * pair Jaccard, hamming-argmin and argmax-over-history are functions
    * of the full fixed side, so every compared row is byte-identical to
    * the full oracle's; the compare is exact, just over the sampled
    * verdict rows — and `engineWhere` applies the IDENTICAL predicate
    * to the engine's dumped parquet at compare time (no engine query
    * changes, no hash drift at the gate decades). The harness engages
    * these only when the full twin is infeasible, and BoundedOracleSpec
    * pins bounded == enginefiltered at the gate decade where both run. */
  val oraclesBounded: Map[String, (String, String)] = Map(
    // symmetric pair table: a pair is kept iff EITHER endpoint is
    // sampled; emitted exactly once (both sampled -> x<y order only;
    // one sampled -> the sampled endpoint is x, any order via least/
    // greatest with the NOT-sampled guard)
    "llm_dedup_near" -> ((
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |    range(1, greatest(len(w) - 2, 0) + 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
         |                                   t -> t != '') w
         |        FROM documents)),
         |shs AS (SELECT * FROM sh WHERE ${samplePred("doc_id", 5000)}),
         |inter AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_a,
         |         greatest(x.doc_id, y.doc_id) AS doc_b, count(*) AS c
         |  FROM shs x JOIN sh y USING (g)
         |  WHERE x.doc_id != y.doc_id
         |    AND (x.doc_id < y.doc_id OR NOT (${samplePred("y.doc_id", 5000)}))
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         |SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
         |  floor(c * 1.0e4 / (sa.n + sb.n - c) + 0.5)::BIGINT AS jaccard_r
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = inter.doc_a
         |JOIN sizes sb ON sb.doc_id = inter.doc_b
         |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8""".stripMargin,
      s"(${samplePred("doc_a", 5000)}) OR (${samplePred("doc_b", 5000)})")),

    // per-doc hamming-argmin verdicts: verdict side (i = b) sampled,
    // partner side (a < i) full
    "llm_dedup_simhash" -> ((
      s"""WITH hs AS (
         |  SELECT doc_id, list_transform(
         |    list_distinct(list_filter(string_split_regex(lower(text), '\\W+'),
         |                              t -> t != '')),
         |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hl
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(0, 60), i ->
         |      CASE WHEN list_sum(list_transform(hl,
         |             h -> CASE WHEN (h // (1::BIGINT << i)) % 2 = 1
         |                       THEN 1 ELSE -1 END)) > 0
         |           THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS s
         |  FROM hs),
         |p AS (
         |  SELECT b.doc_id AS i, a.doc_id AS h, bit_count(xor(a.s, b.s)) AS d
         |  FROM sh a JOIN sh b
         |    ON a.doc_id < b.doc_id AND (${samplePred("b.doc_id", 2000)})
         |  WHERE bit_count(xor(a.s, b.s)) <= 2),
         |r AS (SELECT i, h, d,
         |        row_number() OVER (PARTITION BY i ORDER BY d, h) AS rn
         |      FROM p)
         |SELECT i::BIGINT AS doc_id, h::BIGINT AS dup_of, d::BIGINT AS hamming
         |FROM r WHERE rn = 1""".stripMargin,
      samplePred("doc_id", 2000))),

    // the shared pigeonhole modalities: verdict side sampled, partner
    // side full (caps sized to each print table: images are the
    // doc_id%4=1 quarter, video prints cover every doc)
    "llm_image_dedup" -> ((
      graft.llm.Multimodal.imageDedupOracleBounded(
        samplePred("a.doc_id", 8000)),
      samplePred("doc_id", 8000))),
    "llm_video_dedup" -> ((
      graft.llm.Multimodal.videoDedupOracleBounded(
        samplePred("a.doc_id", 2000)),
      samplePred("doc_id", 2000))),

    // cross-snapshot: incoming side sampled, history side full — the
    // per-incoming argmax verdict is over the FULL history either way
    "llm_dedup_incr_near" -> ((
      s"""${incrNearCteWhere(samplePred("b.doc_id", 5000))}
         |SELECT i::BIGINT AS doc_id, h::BIGINT AS dup_of, jaccard_r
         |FROM r WHERE rn = 1""".stripMargin,
      samplePred("doc_id", 5000))),
    "llm_dedup_incr_apply" -> ((
      s"""${incrNearCteWhere(samplePred("b.doc_id", 5000))}
         |SELECT doc_id::BIGINT AS doc_id, lang, source,
         |  n_chars::BIGINT AS n_chars
         |FROM documents, cu
         |WHERE doc_id >= cut AND (${samplePred("doc_id", 5000)})
         |  AND doc_id NOT IN (SELECT i FROM r WHERE rn = 1)""".stripMargin,
      samplePred("doc_id", 5000))),

    // exact bigram-Jaccard pairs: either-endpoint sampling over the
    // SAME bitstring pair definition (the full twin's n²/2 popcount
    // scan is compute-infeasible at 500k docs; one-sided it is
    // sample×corpus — the simhash twin's cost class)
    "llm_dedup_ngram" -> ((
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |    range(1, greatest(len(w) - 1, 0) + 1),
         |    i -> w[i] || ' ' || w[i+1])) AS g
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
         |                                   t -> t != '') w
         |        FROM documents)),
         |$gramBitmapCtes,
         |bms AS (SELECT * FROM bm WHERE ${samplePred("doc_id", 2000)}),
         |inter AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_a,
         |    greatest(x.doc_id, y.doc_id) AS doc_b,
         |    bit_count(x.bits & y.bits)::BIGINT AS c, x.n AS nx, y.n AS ny
         |  FROM bms x JOIN bm y
         |    ON x.doc_id != y.doc_id
         |   AND (x.doc_id < y.doc_id OR NOT (${samplePred("y.doc_id", 2000)})))
         |SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
         |  floor(c * 1.0e4 / (nx + ny - c) + 0.5)::BIGINT AS jaccard_r
         |FROM inter
         |WHERE c * 1.0 / (nx + ny - c) >= 0.5""".stripMargin,
      s"(${samplePred("doc_a", 2000)}) OR (${samplePred("doc_b", 2000)})")),

    // exact embedding near-dup pairs: either-endpoint sampling over the
    // SAME double-fold cosine (the dot is i-ordered, so score_r is
    // byte-identical whichever side is sampled); fraction computed over
    // the EMBEDDINGS universe. One oracle, two engine shapes (the
    // broadcast-dispatch default and the forced-blocked gate).
    "llm_dedup_embed" -> embedBoundedTwin,
    "llm_dedup_embed_blocked" -> embedBoundedTwin
  ) ++ oraclesBoundedDownstream

  /** Bounded campaign twins for the 8 downstream consumers of the full
    * ngram pair table (round-16 directive 2). Their full oracles re-run
    * the all-pairs bitmap-Jaccard join inside their CTE chains — the
    * only quadratic piece; everything downstream of `pairs` (recursive
    * closure over ~1k edges, linear corpus scans) is feasible at every
    * decade. The bounded twin therefore feeds the SAME oracle body
    * (shared `...SqlWith` builders, spliced verbatim) with the ENGINE's
    * own dumped `llm_dedup_ngram` pair table (`{OUT}` substituted by
    * verify_local), making the compare EXACT over the FULL corpus —
    * conditional on the pair table, which the campaign verifies
    * independently in the same run via llm_dedup_ngram's own
    * either-endpoint sampled twin. engine_where is TRUE: no output row
    * is dropped from the compare. Validated on the force-mode ladder
    * (sf0.01/sf0.1): where the full oracle runs, engine pairs == oracle
    * pairs, so bounded == full == engine by construction. */
  private lazy val oraclesBoundedDownstream: Map[String, (String, String)] =
    Map(
      "llm_dup_clusters" -> ((dupClustersSqlWith(boundedClosureCte), "TRUE")),
      "llm_dup_profile" -> ((dupProfileSqlWith(boundedClosureCte), "TRUE")),
      "llm_dedup_apply" -> ((dedupApplySqlWith(boundedClosureCte), "TRUE")),
      "llm_corpus_card" -> ((corpusCardSqlWith(boundedClosureCte), "TRUE")),
      "llm_pipeline" ->
        ((pipelineSqlWith(pipelineStageCtesWith(boundedClosureCte)), "TRUE")),
      "llm_pipeline_funnel" ->
        ((pipelineFunnelSqlWith(pipelineStageCtesWith(boundedClosureCte)),
          "TRUE")),
      "llm_dedup_sweep" ->
        ((dedupSweepSqlWith(s"($enginePairsRSql)"), "TRUE")),
      "llm_split_leakage" ->
        ((splitLeakageSqlWith(s"($enginePairsRSql)"), "TRUE")))

  private lazy val embedBoundedTwin: (String, String) = ((
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |  WHERE ${samplePred("vec_id", EmbedGateSampleCap, "embeddings")}),
       |n AS (SELECT vec_id, v,
       |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |ns AS (SELECT * FROM n WHERE ${samplePred("vec_id", 500, "embeddings")}),
       |s AS (
       |  SELECT least(a.vec_id, b.vec_id) AS vec_a,
       |    greatest(a.vec_id, b.vec_id) AS vec_b,
       |    floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
       |          / (a.nrm * b.nrm) * 1e6 + 0.5)::BIGINT AS score_r
       |  FROM ns a JOIN n b
       |    ON a.vec_id != b.vec_id
       |   AND (a.vec_id < b.vec_id OR NOT (${samplePred("b.vec_id", 500, "embeddings")})))
       |SELECT vec_a::BIGINT AS vec_a, vec_b::BIGINT AS vec_b, score_r
       |FROM s WHERE score_r >= 450000""".stripMargin,
    s"(${samplePred("vec_a", 500, "embeddings")}) OR (${samplePred("vec_b", 500, "embeddings")})"))

  /** The shared cross-snapshot near-dedup closure: history = doc ids
    * below the midpoint, incoming at/above; `r` holds the per-incoming
    * ranked matches (rn = 1 is the best-match verdict row). Shared
    * verbatim by the `llm_dedup_incr_near` and `llm_dedup_incr_apply`
    * oracles so the verdict definition can never diverge between them. */
  private lazy val incrNearCte: String = incrNearCteWhere("TRUE")

  /** [[incrNearCte]] with an extra predicate over the INCOMING side
    * (`b.doc_id`) pushed into the cross-half join — the bounded sf10
    * twin hook: restricting the incoming side makes the join linear in
    * the history side while every restricted verdict (argmax over the
    * FULL history) stays exactly the full oracle's. `TRUE` = the
    * unrestricted oracle, so the two can never drift. */
  private def incrNearCteWhere(incomingPred: String): String =
    s"""WITH cu AS (SELECT (max(doc_id) + 1) // 2 AS cut FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |    range(1, greatest(len(w) - 2, 0) + 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
      |                                   t -> t != '') w
      |        FROM documents)),
      |inter AS (
      |  SELECT a.doc_id AS h, b.doc_id AS i, count(*) AS c
      |  FROM sh a JOIN sh b USING (g), cu
      |  WHERE a.doc_id < cut AND b.doc_id >= cut AND ($incomingPred)
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |p AS (
      |  SELECT i, h,
      |    floor(c * 1.0e4 / (sa.n + sb.n - c) + 0.5)::BIGINT AS jaccard_r
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = inter.h
      |  JOIN sizes sb ON sb.doc_id = inter.i
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
      |r AS (SELECT i, h, jaccard_r, row_number() OVER (
      |        PARTITION BY i ORDER BY jaccard_r DESC, h) AS rn
      |      FROM p)""".stripMargin
}
