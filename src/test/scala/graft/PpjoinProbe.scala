package graft

import graft.llm.Dedup
import org.apache.spark.sql.SparkSession

/** Stage-split probe for the forced-prefix ngram path: times the shingle
  * build, prefix assembly, candidate join, bounded candidate pairs and
  * the full exact result separately, each built from the same
  * `Dedup.ppjoin*` helpers `Dedup.ngramJaccardPrefix` composes, so the
  * optimization targets the stage that actually dominates.
  * `sbt "Test/runMain graft.PpjoinProbe <sfDir> [cpus]"` */
object PpjoinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 1) args(1) else "32"
    val threshold = 0.5
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ppjoin] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$r")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val shBase = Dedup.shingleTable(docs, 2)
    val prefAgg = Dedup.ppjoinPrefixAssembly(shBase, threshold).cache()
    val joined = Dedup.ppjoinCandJoin(Dedup.ppjoinPrefixExplode(prefAgg), threshold)
    t("shingleTable.count")(shBase.count())
    t("prefAgg.count")(prefAgg.count())
    t("candJoinRows.count")(joined.count())
    t("candPairs.count")(Dedup.ppjoinCandPairs(joined, threshold).count())
    t("fullResult.count")(Dedup.ngramJaccardPrefix(shBase, threshold).count())
    prefAgg.unpersist()
    spark.stop()
  }
}
