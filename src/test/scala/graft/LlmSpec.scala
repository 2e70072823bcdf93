package graft

import graft.llm.{Dedup, Fingerprint, Multimodal, SimHash, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioural tests of the training-data operators on sf0.001: LSH recall
  * vs the brute-force baseline, near-dup detection of planted duplicates,
  * simhash locality, multimodal decode plumbing.
  */
class LlmSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("exact dedup groups by content hash and keeps min doc_id") {
    val out = Dedup.exact(docs).cache()
    assert(out.count() == out.select("text_hash").distinct().count())
    assert(out.agg(sum("dups")).head.getLong(0) == docs.count())
  }

  test("near-dup finds the planted pairs, all with high Jaccard") {
    val pairs = Dedup.nearDuplicates(docs).collect()
    assert(pairs.length >= 10, s"expected planted near-dups, got ${pairs.length}")
    assert(pairs.forall(_.getLong(2) >= 8000), "every returned pair must clear the 0.8 threshold")
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)), "pairs ordered doc_a < doc_b")
  }

  test("ngram Jaccard: prefix-filtered join is EXACT vs brute-force all-pairs") {
    val out = Dedup.ngramJaccard(docs, n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: cartesian all-pairs exact Jaccard on the same shingle sets
    val sh = docs
      .select(col("doc_id").cast("long").as("doc_id"), Dedup.tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("w"), 2).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    val inter = size(array_intersect(col("sha"), col("shb")))
    val jac = inter.cast("double") /
      (size(col("sha")) + size(col("shb")) - inter).cast("double")
    val brute = a.crossJoin(b).where(col("doc_a") < col("doc_b")).where(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        Dedup.jaccardE4(inter, size(col("sha")) + size(col("shb")) - inter).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "expected planted duplicate pairs at J >= 0.5")
    assert(out == brute,
      s"prefix-filtered result must be exact: missing=${brute -- out} extra=${out -- brute}")
  }

  test("ngram Jaccard: bitset dispatch == forced prefix path at every SF") {
    // the gate corpora's tiny vocabulary (<= NgramBitsetMaxVocab grams)
    // makes the dispatcher take the dense-bitset all-pairs kernel; the
    // prefix-filtered join is the large-vocabulary plan. Both are exact
    // by construction, so they must agree pair-for-pair, including the
    // e4 rounding — this is what lets the dispatch never move a hash.
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val d = spark.read.parquet(s"/root/testdata/sf$sf/documents.parquet")
      val viaDispatch = Dedup.ngramJaccard(d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val viaPrefix = Dedup.ngramJaccardViaPrefix(d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaPrefix.nonEmpty, s"sf$sf: expected planted pairs")
      assert(viaDispatch == viaPrefix,
        s"sf$sf: bitset/prefix diverged: missing=${viaPrefix -- viaDispatch} " +
          s"extra=${viaDispatch -- viaPrefix}")
    }
  }

  test("incremental near-dedup: LSH cross-corpus verdicts are EXACT vs brute-force") {
    // history = lower doc-id half, incoming = upper half (the entry's cut)
    val cut = docs.agg(expr("(max(doc_id) + 1) div 2")).head.getLong(0)
    val hist = docs.filter(col("doc_id") < cut)
    val inc = docs.filter(col("doc_id") >= cut)
    val out = Dedup.nearDuplicatesAgainst(hist, inc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: all cross-pairs exact 3-shingle Jaccard >= 0.8, then
    // per-incoming argmax (max jaccard_r, ties toward smallest history id)
    def sh(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id").cast("long").as("doc_id"), Dedup.tokens(col("text")).as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("w"), 3).as("sh"))
    val a = sh(hist).select(col("doc_id").as("h"), col("sh").as("sha"))
    val b = sh(inc).select(col("doc_id").as("i"), col("sh").as("shb"))
    val inter = size(array_intersect(col("sha"), col("shb")))
    val union = size(col("sha")) + size(col("shb")) - inter
    val jac = inter.cast("double") / union.cast("double")
    val brute = a.crossJoin(b).where(jac >= 0.8)
      .select(col("i"), col("h"), Dedup.jaccardE4(inter, union).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (_, g) => g.minBy(x => (-x._3, x._2)) }.toSet
    assert(brute.nonEmpty, "expected planted cross-half near-dups at J >= 0.8")
    assert(out == brute,
      s"cross-corpus verdicts must be exact: missing=${brute -- out} extra=${out -- brute}")
  }

  test("incremental near-dedup: precomputed history state round-trips through storage") {
    val cut = docs.agg(expr("(max(doc_id) + 1) div 2")).head.getLong(0)
    val hist = docs.filter(col("doc_id") < cut)
    val inc = docs.filter(col("doc_id") >= cut)
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = collectSet(Dedup.nearDuplicatesAgainst(hist, inc))
    assert(direct.nonEmpty)
    // write the history artifacts the way a production increment stores
    // them, read them back cold, and dedup against the STORED state
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-state").toString
    Dedup.shingleState(hist).write.parquet(s"$dir/sh")
    val shStored = spark.read.parquet(s"$dir/sh")
    Dedup.bandState(shStored).write.parquet(s"$dir/bands")
    val got = collectSet(Dedup.nearDuplicatesAgainstState(
      shStored, spark.read.parquet(s"$dir/bands"), inc))
    assert(got == direct,
      s"stored-state verdicts must equal the recomputing form: " +
        s"missing=${direct -- got} extra=${got -- direct}")
  }

  test("incremental near-dedup: best-match tie-break picks the smallest history id") {
    import spark.implicits._
    val t = (1 to 40).map(i => s"tok$i").mkString(" ")
    def mk(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    // two IDENTICAL history docs (3 and 7), one incoming copy (100), plus
    // an unrelated incoming doc that must not appear in the verdicts
    val hist = mk(Seq((7L, t), (3L, t)))
    val inc = mk(Seq((100L, t), (101L, (1 to 40).map(i => s"other$i").mkString(" "))))
    val out = Dedup.nearDuplicatesAgainst(hist, inc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((100L, 3L, 10000L)),
      s"equal-score ties must resolve to min history id: ${out.toSeq}")
  }

  test("langid eval: planted multilingual docs land on the diagonal, mislabels off it") {
    import spark.implicits._
    val d = Seq(
        (1L, "the cat of the house and the dog is in", "en"),
        (2L, "der hund und die katze das ist nicht ein", "de"),
        (3L, "le chat et la maison est dans les jardins une", "fr"),
        (4L, "el gato es una casa para los perros las", "es"),
        // mislabeled: gold says de, text is english
        (5L, "the king of the hill and the dog was here", "de"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val out = TextStats.langidEval(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("en", "en")) == ((1L, 1L, 10000L)))
    assert(out(("fr", "fr")) == ((1L, 1L, 10000L)))
    assert(out(("es", "es")) == ((1L, 1L, 10000L)))
    // gold de: one correct, one mislabeled-as-en doc -> recall 5000
    assert(out(("de", "de")) == ((1L, 2L, 5000L)))
    assert(out(("de", "en")) == ((1L, 2L, 5000L)))
    // on the driver corpus the text is synthetic word soup: the gate
    // honestly reports recall 10000 for en and 0 elsewhere (labels are
    // uncorrelated with text there) — this planted case is what pins
    // the non-degenerate behavior
  }

  test("corpus card: metrics agree with the standalone operators they summarize") {
    val card = graft.queries.LlmQueries.corpusCard(spark, dir).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(card.size == 11)
    assert(card("n_docs") == Some(docs.count()))
    assert(card("n_tokens") ==
      Some(docs.select(explode(Dedup.tokens(col("text")))).count()))
    val gopher = graft.llm.Repetition.gopherFilter(docs)
    assert(card("gopher_pass_e4") ==
      Some(gopher.filter(col("keep")).count() * 10000 / docs.count()))
    for (m <- Seq("gopher_pass_e4", "dup_doc_e4", "contam_e4", "top100_mass_e4"))
      assert(card(m).exists(v => v >= 0L && v <= 10000L), s"$m out of range: $card")
  }

  test("dup clusters: min-label propagation finds components + survivors") {
    import spark.implicits._
    // chain 1-2-3 (tests transitivity, not just direct pairs), pair 5-6,
    // isolated pair 9-10; docs without pairs don't appear
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L), (9L, 10L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (5L, 5L, true), (6L, 5L, false), (9L, 9L, true), (10L, 9L, false)))
    // long chain converges (diameter > 1 iteration's reach)
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val chained = Dedup.dupClusters(chain).collect()
    assert(chained.forall(_.getLong(1) == 1L) && chained.length == 12)
  }

  test("dup profile: per-source counts, cross-source clusters count twice") {
    import spark.implicits._
    // cluster 1 = {1,2,5} spans s1+s2; cluster 3 = {3,4} inside s1;
    // doc 6 (s2) and doc 7 (s3) unclustered
    val clusters = Seq(
      (1L, 1L, true), (2L, 1L, false), (5L, 1L, false),
      (3L, 3L, true), (4L, 3L, false)
    ).toDF("doc_id", "cluster_id", "keep")
    val d = Seq(
      (1L, "s1"), (2L, "s1"), (3L, "s1"), (4L, "s1"),
      (5L, "s2"), (6L, "s2"), (7L, "s3")
    ).toDF("doc_id", "source")
    val out = Dedup.dupProfile(clusters, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out == Set(
      ("s1", 4L, 4L, 2L, 2L, 5000L), // clusters {1,3}; drops {2,4}
      ("s2", 2L, 1L, 1L, 1L, 5000L), // cluster 1 counts here too
      ("s3", 1L, 0L, 0L, 0L, 0L)))   // untouched source still reported
  }

  test("simhash hamming-dedup: pigeonhole banding is EXACT vs brute force") {
    val out = SimHash.hammingDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fp = SimHash.fingerprints(docs)
    val brute = fp.alias("a").crossJoin(fp.alias("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("i"), col("a.doc_id").as("h"),
        SimHash.hamming(col("a.simhash"), col("b.simhash")).cast("long").as("d"))
      .where(col("d") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (_, g) => g.minBy(x => (x._3, x._2)) }.toSet
    assert(brute.nonEmpty, "expected hamming<=2 pairs on this corpus")
    assert(out == brute,
      s"band join must lose nothing: missing=${brute -- out} extra=${out -- brute}")
  }

  test("simhash: near-dup pairs are close in Hamming space, random pairs are not") {
    val fp = SimHash.fingerprints(docs)
    val pairs = Dedup.nearDuplicates(docs)
    val joined = pairs
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .select(SimHash.hamming(col("ha"), col("hb")).as("d"))
    val dupMean = joined.agg(avg("d")).head.getDouble(0)
    // random-pair baseline: consecutive doc ids that are not near-dups
    val dupIds = pairs.select("doc_a").collect().map(_.getLong(0)).toSet ++
      pairs.select("doc_b").collect().map(_.getLong(0))
    val base = fp.alias("x").join(fp.alias("y"),
        col("x.doc_id") + 1 === col("y.doc_id"))
      .where(!col("x.doc_id").isin(dupIds.toSeq: _*))
      .select(SimHash.hamming(col("x.simhash"), col("y.simhash")).as("d"))
    val baseMean = base.agg(avg("d")).head.getDouble(0)
    assert(dupMean < baseMean / 2,
      s"near-dup mean hamming $dupMean should be far below random baseline $baseMean")
  }

  test("near-dup candidate density stays within the documented bounds") {
    val n = emb.count()
    val totalPairs = n * (n - 1) / 2.0
    // oracle-threshold defaults (24×4 at 0.45): near-all-pairs is the
    // DOCUMENTED trade (full recall for the exact-oracle gate) — but it must
    // never exceed the documented ≈0.8 by a silent parameter change
    val defaults = Similarity.nearDupCandidates(emb, 24, 4, 13L).count()
    val defDensity = defaults / totalPairs
    assert(defDensity < 0.9,
      s"default banding density $defDensity exceeds the documented ~0.8 bound")
    // production-threshold banding (16×16 at ≥0.9) must PRUNE, not go
    // quadratic: on near-uniform vectors per-band collision ≈ 0.5^16
    val (pb, pr) = Similarity.ProductionNearDupParams
    val prod = Similarity.nearDupCandidates(emb, pb, pr, 13L).count()
    val prodDensity = prod / totalPairs
    assert(prodDensity < 0.01,
      s"production banding density $prodDensity is quadratic — banding broken")
  }

  test("LSH top-k recall vs brute force is usable") {
    val exact = Similarity.bruteForceTopK(emb, numQueries = 10, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 4-plane test shape, passed explicitly — the callable DEFAULT
    // is ProductionTopKParams (asserted in the clustered-corpus test)
    val approx = Similarity
      .lshTopK(emb, numQueries = 10, k = 5, numPlanes = 4, maxProbeHamming = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 $recall too low for 4-plane Hamming-2 multi-probe")
  }

  test("production lshTopK params: <1% candidate density AND a recall floor on clustered embeddings") {
    import spark.implicits._
    // a planted CLUSTERED corpus — the production regime. The oracle
    // gate's near-isotropic vectors are LSH's worst case, which is why
    // the gate ENTRY passes the test shape (4 planes probing ~69% of the
    // corpus) explicitly; ProductionTopKParams — now the callable
    // DEFAULT — must instead prune hard and still
    // recall, which only clustered data can demonstrate. 200 clusters
    // of 20 vectors at ~0.97 cosine-to-center (0.25x Gaussian noise on
    // a Gaussian center).
    val rnd = new scala.util.Random(4242)
    val dim = 64
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(200)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 4000).map { id =>
      val c = centers(id % 200)
      val v = c.zip(Array.fill(dim)(rnd.nextGaussian()))
        .map { case (a, g) => a + 0.25 * g }
      (id.toLong, unit(v), id % 200)
    }
    val cemb = vecs.toDF("vec_id", "embedding", "label").cache()
    val nq = 20
    val (pl, ham) = Similarity.ProductionTopKParams
    val cand = Similarity.lshCandidates(cemb, nq, pl, ham, 42L).count()
    val density = cand.toDouble / (nq.toLong * (vecs.size - 1))
    info(f"production lshTopK candidate density = $density%.4f ($cand pairs)")
    assert(density < 0.01,
      s"production probing density $density — the Hamming-2 ring over " +
        "2^16 buckets must stay under 1% of the corpus per query")
    val exact = Similarity.bruteForceTopK(cemb, nq, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity
      .lshTopK(cemb, nq, 5, numPlanes = pl, maxProbeHamming = ham)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"production lshTopK recall@5 = $recall%.3f")
    assert(recall >= 0.70,
      s"production lshTopK recall@5 $recall under the clustered-corpus floor")
    cemb.unpersist()
  }

  test("IVF top-k recall vs brute force is usable") {
    val exact = Similarity.bruteForceTopK(emb, numQueries = 10, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, numQueries = 10, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall@5 $recall too low for 16 lists / 4 probes")
  }

  test("JL random-projection top-k recall vs brute force is usable") {
    val exact = Similarity.bruteForceTopK(emb, numQueries = 10, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // defaults dOut=64/pool=480x (round-15 re-tune): the old 48/240x
    // held 1.00/1.00/1.00 at sf0.001/0.01/0.1 and 0.84 at sf1 but
    // thinned to 0.76 at sf10; the re-tune measures 0.90 there
    val approx = Similarity.rpTopK(emb, numQueries = 10, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"rp recall@5 = $recall")
    assert(recall >= 0.75,
      s"recall@5 $recall below the llm_sim_topk_rp gate floor (48-dim JL, pool 240x)")
  }

  test("SQ8 top-k recall vs brute force clears the pinned floor at every SF") {
    // the three-decade discipline: a floor is only as good as the
    // largest scale it was checked at (the rp lesson)
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val exact = Similarity.bruteForceTopK(e, numQueries = 10, k = 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.sq8TopK(e, numQueries = 10, k = 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      info(s"sf$sf sq8 recall@5 = $recall")
      assert(recall >= 0.9,
        s"sf$sf: recall@5 $recall below the llm_sim_topk_sq8 gate floor")
    }
  }

  test("PQ top-k recall vs brute force clears the pinned floor at every SF") {
    // the sq8 three-decade discipline; sf1/sf10 are covered by
    // ScaleDecadeSpec (ksub=64/pool=320x — the round-15 re-tune after
    // the old 32/160x decayed to 0.72 at sf10; PqProbe, PLANS.md)
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val exact = Similarity.bruteForceTopK(e, numQueries = 10, k = 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.pqTopK(e, numQueries = 10, k = 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      info(s"sf$sf pq recall@5 = $recall")
      assert(recall >= 0.75,
        s"sf$sf: recall@5 $recall below the llm_sim_topk_pq gate floor")
    }
  }

  test("IVF-PQ top-k recall vs brute force clears the pinned floor at every SF") {
    // composed coarse-probe × ADC: measured 0.88/0.92/0.92(/0.94 at sf1
    // via ScaleDecadeSpec) — scale-stable where flat pq decays
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val exact = Similarity.bruteForceTopK(e, numQueries = 10, k = 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.ivfPqTopK(e, numQueries = 10, k = 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      info(s"sf$sf ivfpq recall@5 = $recall")
      assert(recall >= 0.75,
        s"sf$sf: recall@5 $recall below the llm_sim_topk_ivfpq gate floor")
    }
  }

  test("IVF-PQ pool is a subset of the coarse candidates (the composition contract)") {
    // every ivfpq result must come from an IVF-probed list — the ADC
    // stage can only re-rank the coarse survivors, never resurrect a
    // pruned vector
    val Some((cents, lists)) = Similarity.ivfIndexState(emb)
    val cand = Similarity.ivfCandidates(emb, Similarity.centroidsFromState(cents),
        lists, numQueries = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Similarity.ivfPqTopK(emb, numQueries = 10, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty && out.subsetOf(cand),
      s"${(out -- cand).size} ivfpq results outside the coarse candidate set")
  }

  test("pqCodes: one code row per vector, every code inside its codebook") {
    val m = 8
    val ksub = 32
    val codes = Similarity.pqIndexState(emb, m = m, ksub = ksub).get._2.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val ids = emb.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(codes.keySet == ids, "code table must be row-for-row with the corpus")
    codes.values.foreach { cd =>
      assert(cd.length == m, s"expected $m sub-codes, got ${cd.length}")
      assert(cd.forall(c => c >= 0 && c < ksub), s"code outside [0,$ksub)")
    }
    // the compression claim: distinct codes actually spread across the
    // codebook (a collapsed trainer would map everything to one cell)
    val distinctPerSub = (0 until m).map(s => codes.values.map(_(s)).toSet.size)
    info(s"distinct codes per subspace = $distinctPerSub")
    assert(distinctPerSub.forall(_ > 1), "a subspace collapsed to one centroid")
    // determinism: re-encoding yields the identical table (seedless
    // trainer, fixed sample order)
    val again = Similarity.pqIndexState(emb, m = m, ksub = ksub).get._2.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(codes.keySet == again.keySet &&
      codes.forall { case (id, cd) => cd.sameElements(again(id)) },
      "the PQ code table must be deterministic across builds")
  }

  test("sq8Dequant: reconstruction stays inside the embedQuantize error bound") {
    val orig = emb.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val deq = Similarity.sq8Dequant(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(deq.keySet == orig.keySet)
    // per-dim grid step over the e5-integerized corpus, from the same stats
    val ints = orig.values.map(_.map(x => math.floor(x.toDouble * 1e5 + 0.5).toLong))
    val dim = ints.head.length
    val step = Array.tabulate(dim) { j =>
      val vs = ints.map(_(j))
      (vs.max - vs.min) / 255L + 2L
    }
    orig.foreach { case (id, a) =>
      val d = deq(id)
      a.indices.foreach { j =>
        val errE5 = math.abs(math.floor(a(j).toDouble * 1e5 + 0.5) -
          math.floor(d(j).toDouble * 1e5 + 0.5))
        assert(errE5 <= step(j) + 1,
          s"vec $id dim $j: dequant error $errE5 exceeds grid step ${step(j)}")
      }
    }
  }

  test("rpReduce: output dims and determinism across invocations") {
    val red = Similarity.rpReduce(emb, dOut = 16)
    val a = red.orderBy("vec_id").collect().map(_.getSeq[Float](1).toVector)
    val b = Similarity.rpReduce(emb, dOut = 16).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toVector)
    assert(a.forall(_.length == 16))
    assert(a.toSeq == b.toSeq, "projection must be deterministic")
  }

  test("brute-force top-k returns k rows per query, ranked") {
    val out = Similarity.bruteForceTopK(emb, numQueries = 5, k = 3).collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L))
      // scores non-increasing with rank
      val byRank = rows.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedding near-dup: exact default, BLOCKED distributed path, AND banded all agree at every SF") {
    // the DEFAULT is the exact all-pairs path (full recall by
    // construction — the sf1 oracle run caught the old banded default
    // missing 124 borderline pairs, round 13). The distributed blocked
    // cross join (forced here via broadcastMaxBytes=0 + multi-block
    // cuts) must reproduce the broadcast kernel bit-for-bit; the banded
    // path stays equal at these decades under the fixed seed, which
    // remains a checkable fact even though it no longer backs the gate
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val got = Similarity.embeddingNearDup(e).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gotBlocked = Similarity.embeddingNearDupBlocked(e, 450000L, 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gotBanded = Similarity
        .embeddingNearDup(e, bands = 24, rowsPerBand = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val vecs = e.select(col("vec_id").cast("long"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
        .sortBy(_._1)
      val norms = vecs.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
      val expected = (for {
        i <- vecs.indices.iterator
        j <- (i + 1) until vecs.length
      } yield {
        var s = 0.0
        var k = 0
        val va = vecs(i)._2
        val vb = vecs(j)._2
        while (k < va.length) { s += va(k) * vb(k); k += 1 }
        (vecs(i)._1, vecs(j)._1,
          math.floor(s / (norms(i) * norms(j)) * 1e6 + 0.5).toLong)
      }).filter(_._3 >= 450000L).toSet
      assert(expected.nonEmpty, s"sf$sf: exact reference found no pairs")
      assert(got == expected,
        s"sf$sf: exact path diverged: missing=${expected -- got} extra=${got -- expected}")
      assert(gotBlocked == expected,
        s"sf$sf: BLOCKED path diverged: missing=${expected -- gotBlocked} extra=${gotBlocked -- expected}")
      assert(gotBanded == expected,
        s"sf$sf: banded path diverged: missing=${expected -- gotBanded} extra=${gotBanded -- expected}")
    }
  }

  test("embedding near-dup exact: auto-switch picks the blocked path above the broadcast bound") {
    // planted above-the-bound corpus: broadcastMaxBytes=0 forces EVERY
    // call over the bound, tiny blockBytes forces a genuinely multi-block
    // plan — results must equal the default (single-broadcast) answer,
    // and the blocked plan must contain BroadcastNestedLoopJoin unions,
    // proving the dispatcher actually switched shape
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val viaDefault = Similarity.embeddingNearDupExact(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val forced = Similarity.embeddingNearDupExact(e,
      broadcastMaxBytes = 0L, blockBytes = 16L * 1024)
    val plan = forced.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"auto-switch did not take the blocked path:\n$plan")
    assert(plan.contains("Union"), "blocked path should union multiple blocks")
    val viaForced = forced.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaForced == viaDefault,
      s"blocked auto-switch diverged: missing=${viaDefault -- viaForced} extra=${viaForced -- viaDefault}")
  }

  test("winnowing fingerprints: near-dup pairs overlap, the guarantee holds") {
    val fp = Fingerprint.winnow(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // winnowing guarantee on a synthetic pair: >= W+K-1 shared bytes must
    // share a fingerprint
    val spark2 = spark
    import spark2.implicits._
    val shared = "this exact run of bytes is long enough to guarantee a shared fingerprint"
    val pairDf = Seq((1L, s"prefix one $shared"), (2L, s"$shared suffix two"))
      .toDF("doc_id", "text")
    val pfp = Fingerprint.winnow(pairDf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((pfp(1L) & pfp(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    // corpus-level: planted near-dups overlap far more than adjacent ids
    val pairs = Dedup.nearDuplicates(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    def overlap(a: Long, b: Long): Double = {
      val (x, y) = (fp.getOrElse(a, Set.empty[Long]), fp.getOrElse(b, Set.empty[Long]))
      if (x.isEmpty || y.isEmpty) 0.0 else (x & y).size.toDouble / math.min(x.size, y.size)
    }
    val dupMean = pairs.map { case (a, b) => overlap(a, b) }.sum / pairs.length
    val ids = fp.keySet.toSeq.sorted
    val baseMean = ids.zip(ids.tail).take(100)
      .filterNot { case (a, b) => pairs.contains((a, b)) }
      .map { case (a, b) => overlap(a, b) }.sum / 100
    assert(dupMean > 0.5 && dupMean > baseMean * 3,
      s"near-dup fp overlap $dupMean should dwarf baseline $baseMean")
  }

  test("text stats and multimodal decode handle empty and non-ASCII text") {
    import spark.implicits._
    val df = Seq((1L, "", "en", "s"), (2L, "héllo wörld", "de", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val st = TextStats.stats(df).collect().map(r => r.getLong(0) -> r).toMap
    assert(st(1L).getAs[Long]("quality") == 0L, "empty text: quality 0, not null/NaN")
    assert(st(1L).getAs[Long]("n_words") == 0L)
    val mm = Multimodal.decodeAll(df).collect().map(r => r.getLong(0) -> r).toMap
    // doc 2 → wav fixture: 44-byte header + the text's UTF-8 octets
    assert(mm(2L).getAs[Long]("byte_len") ==
      44L + "héllo wörld".getBytes("UTF-8").length, "byte length, not char count")
    assert(mm(1L).getAs[String]("modality") == "bmp")
    assert(mm(1L).getAs[Long]("checksum") == 0L, "empty payload sums to 0")
  }

  test("pcm frames decode signed LE16 samples into windowed integer features") {
    import spark.implicits._
    // payload bytes chosen to exercise sign extension: sample 0 = 0x0102
    // (lo=0x02, hi=0x01) = 258; sample 1 = 0xFF80 → hi=0xFF → -128
    val payload = Array[Byte](0x02, 0x01, 0x80.toByte, 0xff.toByte, 0x7f, 0x00)
    val blob = Multimodal.fixtureBlob(2L, payload) // doc_id%4==2 → wav
    val (at, len) = Multimodal.wavData(blob).getOrElse(fail("wavData: no data chunk"))
    assert(len == 6)
    val samples = (0 until len / 2).map { i =>
      (blob(at + 2 * i + 1) << 8) | (blob(at + 2 * i) & 0xff)
    }
    assert(samples == Seq(258, -128, 127), s"sign extension: $samples")
    // end-to-end over real docs: frame coverage is exact and contiguous
    val frames = Multimodal.pcmFrames(docs).cache()
    val perDoc = frames.groupBy("doc_id")
      .agg(sum("n_samples").as("ns"), count(lit(1)).as("nf"),
        max("frame_idx").as("mx"), min("frame_idx").as("mn"))
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2) * Multimodal.PcmWindow, "frames cover samples")
      assert(r.getLong(4) == 0L && r.getLong(3) == r.getLong(2) - 1, "contiguous frame idx")
      assert(r.getLong(0) % 4 == 2, "only wav docs emit frames")
    }
    assert(frames.agg(max("peak")).head.getLong(0) <= 32768L)
  }

  test("multimodal decode parses real PNG/BMP/WAV/JPEG headers, stub only as fallback") {
    val payload = "sample-payload".getBytes("UTF-8")
    // PNG: big-endian IHDR fields (8 % 4 == 0)
    val png = Multimodal.decode(Multimodal.fixtureBlob(8L, payload))
    assert(png.modality == "png" && png.width == 9L && png.height == 9L && png.frames == 1L)
    // BMP: little-endian fields, payload found via the header's data offset
    val bmp = Multimodal.decode(Multimodal.fixtureBlob(9L, payload))
    assert(bmp.modality == "bmp" && bmp.width == 10L && bmp.height == 10L)
    assert(bmp.checksum == png.checksum, "same payload, same checksum, either header")
    // WAV: fmt chunk + chunk-walk to data; frames = data bytes / block align
    val wav = Multimodal.decode(Multimodal.fixtureBlob(10L, payload))
    assert(wav.modality == "wav" && wav.width == 24000L && wav.height == 1L)
    assert(wav.frames == payload.length / 2)
    // JPEG: SOI + APP0 skipped, SOF0 dims parsed big-endian
    val jpg = Multimodal.decode(Multimodal.fixtureBlob(11L, payload))
    assert(jpg.modality == "jpeg" && jpg.width == 12L && jpg.height == 12L)
    assert(jpg.checksum == png.checksum, "payload checksum identical across containers")
    // unrecognized container → the labeled stub fallback
    assert(Multimodal.decode("plain text".getBytes("UTF-8")).modality == "unknown")
    // truncated JPEG (SOI only, no SOF) falls back, never reads out of bounds
    assert(Multimodal.decode(Array[Byte](0xFF.toByte, 0xD8.toByte)).modality == "unknown")
    // legal 0xFF fill padding before a marker must not derail the walk
    val base = Multimodal.fixtureBlob(11L, payload)
    val padded = Array[Byte](base(0), base(1), 0xFF.toByte, 0xFF.toByte) ++ base.drop(2)
    val pj = Multimodal.decode(padded)
    assert(pj.modality == "jpeg" && pj.width == 12L && pj.height == 12L,
      s"fill bytes broke the marker walk: $pj")
  }

  test("multimodal decode survives corrupt RIFF chunk sizes (stub, no hang)") {
    // RIFF/WAVE/fmt, then a junk chunk whose size field is 0xFFFFFFF8: the
    // unguarded walk advanced by 8 + (-8) = 0 forever; the guard must fall
    // back to the stub instead
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("junk".getBytes("US-ASCII")).putInt(0xFFFFFFF8)
    assert(Multimodal.decode(bb.array()).modality == "unknown")
    // truncated headers never index out of bounds either
    assert(Multimodal.decode("BM".getBytes("US-ASCII")).modality == "unknown")
    assert(Multimodal.decode(Array[Byte](0x89.toByte, 'P', 'N', 'G')).modality == "unknown")
  }

  test("multimodal decodeAll round-trips the fixture headers end-to-end") {
    val out = Multimodal.decodeAll(docs).collect()
    assert(out.length == docs.count())
    val sample = docs.select("doc_id", "text").head
    val expect = Multimodal.decode(
      Multimodal.fixtureBlob(sample.getLong(0), sample.getString(1).getBytes("UTF-8")))
    val got = out.find(_.getLong(0) == sample.getLong(0)).get
    assert(got.getAs[String]("modality") == expect.modality)
    assert(got.getAs[Long]("byte_len") == expect.byte_len)
    assert(got.getAs[Long]("width") == expect.width)
    assert(got.getAs[Long]("height") == expect.height)
    assert(got.getAs[Long]("frames") == expect.frames)
    assert(got.getAs[Long]("checksum") == expect.checksum)
    assert(out.forall(_.getAs[String]("modality") != "unknown"),
      "every fixture header must parse — the stub is only for foreign blobs")
  }

  test("thumbnails: NN sampler matches an independent pixel-indexing reference") {
    val t = Multimodal.ThumbSize
    val want = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
      .filter(_._1 % 4 == 1)
      .map { case (id, payload) =>
        val w = id % 640 + 1
        val h = id % 480 + 1
        val stride = ((w * 3 + 3) / 4) * 4
        var checksum = 0L
        var sampleSum = 0L
        var idx = 0
        for (ty <- 0 until t; tx <- 0 until t; c <- 0 until 3) {
          val o = (h - 1 - ty * h / t) * stride + 3 * (tx * w / t) + c
          val v = if (o < payload.length) payload(o.toInt) & 0xff else 0
          checksum += (idx + 1).toLong * v
          sampleSum += v
          idx += 1
        }
        id -> ((w, h, checksum, sampleSum))
      }.toMap
    val got = Multimodal.thumbnails(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == want.keySet)
    assert(got == want)
    assert(got.nonEmpty && got.values.exists(_._4 > 0L),
      "some sampled bytes must land inside the payload or the gate tests nothing")
  }

  test("thumbnails: a full-coverage synthetic BMP samples the exact expected pixels") {
    import spark.implicits._
    // doc_id 1281 -> bmp (1281 % 4 == 1), w = 1281 % 640 + 1 = 2,
    // h = 1281 % 480 + 1 = 322 -> stride 8; craft a payload long enough
    // that EVERY sample hits real data, with byte value = offset % 251
    val id = 1281L
    val w = 2L
    val h = 322L
    val stride = 8L
    // ASCII text (UTF-8 bytes == chars) long enough that every sample
    // offset lands inside the payload, with position-varying values
    val text = Array.tabulate((stride * h).toInt)(i => ('a' + i % 26).toChar)
      .mkString
    val payload = text.getBytes("UTF-8")
    val got = Multimodal.thumbnails(
        Seq((id, text)).toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("t"))
          .withColumn("n_chars", length(col("text"))))
      .collect()
    assert(got.length == 1)
    var checksum = 0L
    var idx = 0
    for (ty <- 0 until 4; tx <- 0 until 4; c <- 0 until 3) {
      val o = (h - 1 - ty * h / 4) * stride + 3 * (tx * w / 4) + c
      assert(o < payload.length, "crafted image must be fully covered")
      checksum += (idx + 1).toLong * (payload(o.toInt) & 0xff)
      idx += 1
    }
    assert(got.head.getLong(1) == w && got.head.getLong(2) == h)
    assert(got.head.getLong(3) == checksum,
      "full-coverage image: every sample must read its exact bottom-up/stride offset")
  }

  test("image phash: identical geometry+payload dedups at d=0; banding is EXACT vs brute force") {
    import spark.implicits._
    // doc_ids 1 and 1921 share the fixture BMP geometry (1920 =
    // lcm(640, 480), and 1920 % 4 = 0 keeps the modality class) — same
    // text therefore means an identical blob and an identical print
    val sameText = "copied image payload bytes spread across the rows"
    val otherText = "a completely different picture with other content entirely"
    val planted = Seq(
      (1L, sameText), (1921L, sameText), (5761L, otherText))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val ph = Multimodal.imagePhash(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ph.keySet == Set(1L, 1921L, 5761L))
    assert(ph(1L) == ph(1921L), "identical blob must print identically")
    val verdicts = Multimodal.imagePhashDedup(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(verdicts.contains((1921L, 1L, 0L)),
      s"the copy must resolve to the min-id original at d=0: ${verdicts.toSeq}")
    assert(!verdicts.exists(_._1 == 1L), "the original is nobody's duplicate")

    // corpus: banded verdicts == brute-force pairwise Hamming verdicts
    val prints = Multimodal.imagePhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3))
    assert(prints.length > 0)
    val brute = prints.flatMap { case (id, p) =>
      val best = prints.filter(_._1 < id)
        .map { case (o, q) => (java.lang.Long.bitCount(p ^ q).toLong, o) }
        .filter(_._1 <= 2)
      if (best.isEmpty) None else Some((id, best.min._2, best.min._1))
    }.sortBy(_._1).toSeq
    val got = Multimodal.imagePhashDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    info(s"corpus image-dedup verdicts: ${got.size} of ${prints.length} prints")
    assert(got == brute, "pigeonhole banding must be exact vs brute force")
  }

  test("image phash: cell bits respond to payload content, not only geometry") {
    import spark.implicits._
    // doc 1281 -> w=2, h=322 (the thumbnails-test geometry: most of the
    // payload is real pixel data); a bright half vs a dark half must
    // yield a print that is neither all-zero nor all-ones, and the
    // reversed payload (same geometry via 1281+1920) must print
    // differently
    val a = Array.fill(900)('z').mkString   // high byte values
    val b = Array.fill(900)('!').mkString   // low byte values
    val ph = Multimodal.imagePhash(
      Seq((1281L, a + b), (3201L, b + a)).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ph(1281L) != 0L && java.lang.Long.bitCount(ph(1281L)) < 60)
    assert(ph(1281L) != ph(3201L), "reversed payload must print differently")
  }

  test("audio phash: identical rate/channels+payload dedups at d=0; banding is EXACT vs brute force") {
    import spark.implicits._
    // doc_ids 2 and 26 are both WAV (≡2 mod 4) with the same fmt chunk
    // (grp 0 and 6: 6%3=0 → rate 8000, 6%2=0 → 1 channel) — same text
    // therefore means an identical blob and an identical print
    val sameText = "copied audio payload samples spread across the stream"
    val otherText = "a completely different clip with other content entirely"
    val planted = Seq(
      (2L, sameText), (26L, sameText), (50L, otherText))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val ph = Multimodal.audioPhash(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(ph.keySet == Set(2L, 26L, 50L))
    assert(ph(2L)._1 == 8000L && ph(26L)._1 == 8000L, "fmt rate must be read from the chunk")
    assert(ph(2L)._2 == 1L && ph(26L)._2 == 1L)
    assert(ph(2L)._3 == ph(26L)._3, "identical blob must print identically")
    val verdicts = Multimodal.audioPhashDedup(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(verdicts.contains((26L, 2L, 0L)),
      s"the copy must resolve to the min-id original at d=0: ${verdicts.toSeq}")
    assert(!verdicts.exists(_._1 == 2L), "the original is nobody's duplicate")

    // corpus: banded verdicts == brute-force pairwise Hamming verdicts
    val prints = Multimodal.audioPhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(4))
    assert(prints.length > 0)
    val brute = prints.flatMap { case (id, p) =>
      val best = prints.filter(_._1 < id)
        .map { case (o, q) => (java.lang.Long.bitCount(p ^ q).toLong, o) }
        .filter(_._1 <= 2)
      if (best.isEmpty) None else Some((id, best.min._2, best.min._1))
    }.sortBy(_._1).toSeq
    val got = Multimodal.audioPhashDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    info(s"corpus audio-dedup verdicts: ${got.size} of ${prints.length} prints")
    assert(got == brute, "pigeonhole banding must be exact vs brute force")
  }

  test("audio phash: segment bits respond to amplitude envelope, not only length") {
    import spark.implicits._
    // 'z' pairs decode to sample 0x7A7A (loud), '!' pairs to 0x2121
    // (quiet): a loud half then a quiet half must set exactly the first
    // 30 of 60 segment bits, and the reversed stream must set the
    // complementary half
    val loud = Array.fill(900)('z').mkString
    val quiet = Array.fill(900)('!').mkString
    val ph = Multimodal.audioPhash(
      Seq((2L, loud + quiet), (6L, quiet + loud)).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(ph(2L) == (1L << 30) - 1,
      s"loud-then-quiet must set segments 0-29: ${ph(2L).toBinaryString}")
    assert(ph(6L) == ((1L << 30) - 1) << 30,
      s"quiet-then-loud must set segments 30-59: ${ph(6L).toBinaryString}")
  }

  test("thumbnails: dispatches on the BMP magic, not the fixture doc_id convention") {
    // a foreign 4-byte blob cannot be fed through the documents->fixture
    // path, so exercise the byte dispatch by checking the fixture corpus:
    // exactly the docs whose BLOBS carry the BM magic produce rows, and
    // those are the %4==1 docs only because fixtureBlob makes them BMPs
    val got = Multimodal.thumbnails(docs).collect().map(_.getLong(0)).toSet
    val bmpIds = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(id => Multimodal.fixtureBlob(id, "x".getBytes).take(2)
        .sameElements("BM".getBytes)).toSet
    assert(got == bmpIds)
    // truncated/foreign bytes must be skipped, not crash: a doc whose
    // blob is NOT a BMP (png at %4==0) yields no row even at short text
    assert(!got.exists(_ % 4 != 1))
  }

  test("thumbnail pool: a foreign blob with h near Int.MaxValue pools in Long, no negative cells") {
    // ADVICE r10: a valid 'BM' header with huge h passes the geometry
    // guards (which only bound w via the stride), and Int cell math
    // would wrap sy*t negative. Craft w=1, h=6e8, 8 payload bytes.
    val h = 600000000L
    val bb = java.nio.ByteBuffer.allocate(54 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(62).putInt(0).putInt(54)
      .putInt(40).putInt(1).putInt(h.toInt)
      .putShort(1).putShort(24).putInt(0).putInt(8)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    for (i <- 0 until 8) bb.put((10 * (i + 1)).toByte)
    val Some((w, hh, checksum, total)) = Multimodal.poolBlob(bb.array())
    assert(w == 1L && hh == h)
    // independent Long replay: stride 4, rows 0..1 valid at rem<3
    val t = Multimodal.ThumbSize
    var want = 0L; var wantTotal = 0L
    for (p <- 0 until 8; row = p / 4; rem = p % 4; if rem < 3) {
      val cell = ((h - 1 - row) * t / h) * t + 0L
      val v = (10L * (p + 1)) & 0xff
      want += (cell * 3 + rem + 1) * v; wantTotal += v
    }
    assert(checksum == want && checksum > 0L,
      s"Long cell map must hold at huge h: got $checksum want $want")
    assert(total == wantTotal)
  }

  test("embedding outliers: a planted far vector ranks first with the exact integer distance") {
    import spark.implicits._
    // 9 near-zero vectors + one far vector; centroid ~ the far vector / 10
    val dim = 4
    val base = (0L until 9L).map(i => (i, Array.fill(dim)(0.0f), 0))
    val far = Seq((9L, Array.fill(dim)(1.0f), 1))
    val emb = (base ++ far).toDF("vec_id", "embedding", "label")
    val out = Similarity.embedOutliers(emb).collect()
    assert(out.head.getLong(0) == 9L)
    // hand-replay: e5 ints are 0 and 100000; per-dim sum 100000 over 10
    // rows -> centroid 10000; dist2(far) = 4*(90000)^2
    assert(out.head.getLong(2) == 4L * 90000L * 90000L)
    val zeroDist = 4L * 10000L * 10000L
    assert(out.tail.forall(_.getLong(2) == zeroDist))
    // ordering: dist2 non-increasing, vec_id ascending within ties
    val pairs = out.map(r => (r.getLong(2), r.getLong(0)))
    assert(pairs.sliding(2).forall { case Array((d1, v1), (d2, v2)) =>
      d1 > d2 || (d1 == d2 && v1 < v2) })
  }

  test("embedding outliers: coordinates beyond the e5 exactness envelope fail loudly") {
    import spark.implicits._
    // |coord| 60 at dim 64 puts the worst-case squared distance past 2^53
    // — the guard must raise a clear error instead of silently returning
    // ranks computed with inexact (partition-order-dependent) doubles
    val dim = 64
    val emb = Seq((0L, Array.fill(dim)(60.0f), 0), (1L, Array.fill(dim)(-60.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val err = intercept[IllegalArgumentException](Similarity.embedOutliers(emb).collect())
    assert(err.getMessage.contains("exactness envelope"))
  }

  test("embedding outliers on the corpus: topK rows, deterministic across runs") {
    val out = Similarity.embedOutliers(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.length == Similarity.OutlierTopK)
    val again = Similarity.embedOutliers(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("embedQuantize: matches an independent scalar quantizer, every dim inside the grid bound") {
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 1e5 + 0.5).toLong)))
    val dim = vecs.head._2.length
    val mn = Array.tabulate(dim)(j => vecs.map(_._2(j)).min)
    val mx = Array.tabulate(dim)(j => vecs.map(_._2(j)).max)
    val want = vecs.map { case (id, a) =>
      val errs = Array.tabulate(dim) { j =>
        val r = mx(j) - mn(j)
        val vhat =
          if (r == 0L) mn(j)
          else {
            val q = ((a(j) - mn(j)) * 510L + r) / (2L * r)
            mn(j) + (q * r * 2L + 255L) / 510L
          }
        math.abs(a(j) - vhat)
      }
      val inBound = errs.indices.forall(j =>
        errs(j) <= (mx(j) - mn(j)) / 255L + 2L)
      id -> ((errs.max, errs.sum, if (inBound) 1L else 0L))
    }.toMap
    val got = Similarity.embedQuantize(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == want.keySet)
    assert(got == want, "distributed quantizer must equal the scalar reference")
    assert(got.values.forall(_._3 == 1L),
      "every vector must sit inside the r div 255 + 2 reconstruction bound")
    // quantization is lossy but bounded: at least one vector actually
    // incurs error (a zero-error corpus means the gate tests nothing)
    assert(got.values.exists(_._1 > 0L))
  }

  test("embedQuantize: randomized differential (negative coords, constant dims, single vector)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val dim = 1 + rnd.nextInt(6)
      val nVec = 1 + rnd.nextInt(8)
      val constDim = rnd.nextInt(dim) // one dim forced constant
      val vecs = (0L until nVec.toLong).map { id =>
        (id, Array.tabulate(dim)(j =>
          if (j == constDim) 2.5f else (rnd.nextFloat() - 0.5f) * 40f), 0)
      }
      val ints = vecs.map { case (id, a, _) =>
        id -> a.map(x => math.floor(x.toDouble * 1e5 + 0.5).toLong)
      }
      val mn = Array.tabulate(dim)(j => ints.map(_._2(j)).min)
      val mx = Array.tabulate(dim)(j => ints.map(_._2(j)).max)
      val want = ints.map { case (id, a) =>
        val errs = Array.tabulate(dim) { j =>
          val r = mx(j) - mn(j)
          val vhat =
            if (r == 0L) mn(j)
            else {
              val q = ((a(j) - mn(j)) * 510L + r) / (2L * r)
              mn(j) + (q * r * 2L + 255L) / 510L
            }
          math.abs(a(j) - vhat)
        }
        val ok = errs.indices.forall(j => errs(j) <= (mx(j) - mn(j)) / 255L + 2L)
        id -> ((errs.max, errs.sum, if (ok) 1L else 0L))
      }.toMap
      val got = Similarity.embedQuantize(
          vecs.toDF("vec_id", "embedding", "label")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == want, s"seed=$seed dim=$dim n=$nVec")
      assert(got.values.forall(_._3 == 1L), s"seed=$seed: bound must hold")
    }
  }

  test("embedQuantize: a constant dim reconstructs exactly (r = 0 branch)") {
    import spark.implicits._
    val e = Seq((0L, Array(1.5f, -2.0f), 0), (1L, Array(1.5f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embedQuantize(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // dim 0 is constant -> zero error; dim 1 has only the two grid
    // endpoints, which SQ reconstructs exactly -> both vectors exact
    assert(out(0L) == ((0L, 1L)))
    assert(out(1L) == ((0L, 1L)))
  }
}
