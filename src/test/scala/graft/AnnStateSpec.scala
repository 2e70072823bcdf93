package graft

import graft.llm.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PQ index build-once/query-from-state split: the state tables must
  * survive a REAL parquet round trip and reproduce the verdicts of a
  * fresh build (`pqTopK` / `ivfPqTopK` rebuild the state and query it)
  * bit-for-bit — training is deterministic, so any divergence is a
  * state-schema or rebuild bug, not noise.
  */
class AnnStateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("pqTopKFromState after a parquet round trip equals inline pqTopK exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqstate").toString
    val Some((books, codes)) = Similarity.pqIndexState(emb)
    books.write.mode("overwrite").parquet(s"$dir/books")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val booksBack = spark.read.parquet(s"$dir/books")
    val codesBack = spark.read.parquet(s"$dir/codes")

    val inline = Similarity.pqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromState = Similarity.pqTopKFromState(emb, booksBack, codesBack).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(inline.nonEmpty)
    assert(fromState == inline,
      s"state path diverged: only-inline=${(inline -- fromState).take(3)} " +
        s"only-state=${(fromState -- inline).take(3)}")
  }

  test("ivfPqTopKFromState after a parquet round trip equals inline ivfPqTopK exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqstate").toString
    val Some((cents, lists)) = Similarity.ivfIndexState(emb)
    val Some((books, codes)) = Similarity.pqIndexState(emb)
    Seq("cents" -> cents, "lists" -> lists, "books" -> books, "codes" -> codes)
      .foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$dir/$n") }
    def back(n: String) = spark.read.parquet(s"$dir/$n")

    val inline = Similarity.ivfPqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromState = Similarity.ivfPqTopKFromState(emb,
      back("cents"), back("lists"), back("books"), back("codes")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(inline.nonEmpty)
    assert(fromState == inline,
      s"state path diverged: only-inline=${(inline -- fromState).take(3)} " +
        s"only-state=${(fromState -- inline).take(3)}")
  }

  test("full-probe IVF IS brute force: the nProbe=nLists candidate set is total") {
    val exact = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = Similarity.ivfTopK(emb, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(exact.nonEmpty)
    assert(full == exact, "probing every list must reproduce brute force exactly")
  }

  test("the state artifacts have the contracted shapes") {
    val Some((books, codes)) = Similarity.pqIndexState(emb)
    // m=8 subspaces x ksub=64 centroids (the round-15 sf10 re-tune),
    // each centroid dim/m wide
    val b = books.collect()
    assert(b.length == 8 * 64)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    assert(b.forall(_.getSeq[Double](2).length == dim / 8))
    // one code row per corpus vector, every code inside [0, ksub)
    assert(codes.count() == emb.count())
    val bad = codes.where(exists(col("codes"),
      c => c < 0 || c >= 64) || size(col("codes")) =!= 8).count()
    assert(bad == 0L, "codes must be 8 wide, each in [0, 64)")
  }
}
