package graft

import graft.engine.Engine
import graft.lql.Ast.Select
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The store's one read path — Spark's parquet scan over the catalog file
  * index — as the engine and the `graft-store` stream see it: building a
  * read launches no Spark job at any file count (no listing job past
  * Spark's parallel-discovery threshold of 32 paths), and a micro-batch's
  * scan is its only leaf, so the stream's `numInputRows` is exact.
  */
class ReadPathSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsFiredBy

  /** An engine whose one partition holds `chunks` one-row chunk files. */
  private def manyChunks(part: String, chunks: Int): Engine = {
    val e = new Engine(new Store(spark, Files.createTempDirectory("graft-read").toString))
    e.store.appendWithSeq((0 until chunks).map(i => (1000000000L * (i + 1), s"m$i"))
      .toDF("ts", "msg")
      .withColumn("fields", typedLit(Map.empty[String, String]))
      .withColumn("part", lit(part)), maxRecordsPerFile = 1)
    assert(e.store.catalog.entriesForPart(part).size == chunks)
    e
  }

  private lazy val forty = manyChunks("app=many", 40)

  test("building a SELECT over 40 chunks fires no Spark job") {
    val e = forty
    var page: DataFrame = null
    assert(jobsFiredBy { page = e.select("SELECT FROM {app=many} LIMIT 10") } == 0)
    assert(page.collect().map(_.getAs[String]("msg")).toSeq == (0 until 10).map(i => s"m$i"))
  }

  test("building a store read over 40 chunks fires no Spark job") {
    val e = forty
    var all: DataFrame = null
    assert(jobsFiredBy { all = e.store.read(Seq("app=many")) } == 0)
    assert(all.count() == 40)
    assert(all.inputFiles.length == 40)
  }

  private def page(e: Engine, lql: String): (DataFrame, Engine.PageKeys) =
    e.selectWithToken(e.parse(lql).asInstanceOf[Select])

  private def msgs(df: DataFrame): Seq[String] = df.collect().map(_.getAs[String]("msg")).toSeq

  /** The continuation token after the stored row with message `msg`. */
  private def tokenAfter(e: Engine, msg: String): String = {
    val r = e.store.read(Seq("app=many")).where(col("msg") === msg)
      .select("ts", "part", "seq").head()
    e.PosKey(r.getLong(0), r.getString(1), r.getLong(2)).token
  }

  test("a page's collect yields its token: one job for both") {
    val e = forty
    val (df, keys) = page(e, "SELECT FROM {app=many} LIMIT 10")
    var rows = Seq.empty[String]
    var tok: Option[String] = None
    assert(jobsFiredBy { rows = msgs(df); tok = e.pageToken(keys) } == 1)
    assert(rows == (0 until 10).map(i => s"m$i"))
    assert(tok.contains(tokenAfter(e, "m9")))
    assert(msgs(e.select(s"""SELECT FROM {app=many} POSITION "${tok.get}" LIMIT 3""")) ==
      Seq("m10", "m11", "m12"))
  }

  test("pageToken before any action mints the token in one job") {
    val e = forty
    val (df, keys) = page(e, "SELECT FROM {app=many} OFFSET 5 LIMIT 10")
    var tok: Option[String] = None
    assert(jobsFiredBy { tok = e.pageToken(keys) } == 1)
    assert(tok.contains(tokenAfter(e, "m14")))
    assert(msgs(df) == (5 until 15).map(i => s"m$i"))
    assert(e.pageToken(keys) == tok)
  }

  test("an empty page has no token") {
    val e = forty
    Seq("SELECT FROM {app=many} POSITION tail LIMIT 10",
        "SELECT FROM {app=many} WHERE msg CONTAINS \"zzz\" LIMIT 10",
        s"""SELECT FROM {app=many} POSITION "${tokenAfter(e, "m39")}" LIMIT 10""").foreach { lql =>
      val (df, keys) = page(e, lql)
      assert(df.collect().isEmpty, lql)
      assert(e.pageToken(keys).isEmpty, lql)
    }
  }

  test("two pages union into one frame (each observes under its own name)") {
    val e = forty
    val both = e.select("SELECT FROM {app=many} LIMIT 3")
      .union(e.select("SELECT FROM {app=many} POSITION tail OFFSET -2 LIMIT 10"))
    assert(msgs(both).sorted == Seq("m0", "m1", "m2", "m38", "m39"))
  }

  test("an AvailableNow drain's numInputRows sums to the rows it delivers") {
    val store = new Store(spark, Files.createTempDirectory("graft-rows").toString)
    def ingest(app: String, startTs: Long, n: Int): Unit =
      store.write(Map("app" -> app), Map.empty,
        (0 until n).map(i => (startTs + i * 1000000000L, s"$app-$startTs-$i")).toDF("ts", "msg"))
    Seq("a", "b", "c").foreach { app =>
      ingest(app, 1000000000L, 4)
      ingest(app, 90000000000L, 3)
    }
    val cp = Files.createTempDirectory("graft-rows-cp").toString
    /** (rows delivered, sum of numInputRows) of one drain. */
    def drain(): (Long, Long) = {
      val delivered = new java.util.concurrent.atomic.AtomicLong
      val q = spark.readStream.format("graft-store").option("root", store.root).load()
        .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
          delivered.addAndGet(df.count()); ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(60000), "drain did not terminate")
      finally q.stop()
      (delivered.get, q.recentProgress.map(_.numInputRows).sum)
    }
    assert(drain() == ((21L, 21L)))
    ingest("b", 200000000000L, 2)
    ingest("d", 1000000000L, 1)
    assert(drain() == ((3L, 3L)))
    assert(drain() == ((0L, 0L)))
  }
}
