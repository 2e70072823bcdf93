package graft

import graft.llm.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact top-k of every trained ANN index at two corpus sizes:
  * a row-order-independent checksum (`bit_xor` of each row's xxhash64 —
  * `sum` would overflow under ANSI mode) and the row count. Training is
  * seedless and deterministic, so any change to the trainers, the
  * encoders or the probe/ADC/rerank kernels that moves a single
  * (qid, nid, score_r, rank) row breaks the pin.
  */
class AnnPinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def checksum(out: DataFrame): (Long, Long) = {
    val r = out.agg(count(lit(1)),
      bit_xor(xxhash64(col("qid"), col("nid"), col("score_r"), col("rank")))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val pins = Seq(
    "0.001" -> Map(
      "ivf" -> -558805157336633987L, "ivf16" -> -716132103495899993L,
      "pq" -> -716132103495899993L, "ivfpq" -> -558805157336633987L),
    "0.01" -> Map(
      "ivf" -> -7800863719431717864L, "ivf16" -> 4581043462820707483L,
      "pq" -> 4581043462820707483L, "ivfpq" -> -7800863719431717864L))

  for ((sf, expected) <- pins)
    test(s"ANN top-k checksums are pinned at sf$sf") {
      val emb = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet").cache()
      try {
        val got = Map(
          "ivf" -> checksum(Similarity.ivfTopK(emb)),
          "ivf16" -> checksum(Similarity.ivfTopK(emb, nProbe = 16)),
          "pq" -> checksum(Similarity.pqTopK(emb)),
          "ivfpq" -> checksum(Similarity.ivfPqTopK(emb)))
        got.foreach { case (name, (n, h)) =>
          info(s"sf$sf $name: count=$n xor=$h")
          assert(n == 50L, s"$name: expected 10 queries x 5 neighbours")
          assert(h == expected(name), s"$name checksum moved")
        }
      } finally emb.unpersist()
    }
}
