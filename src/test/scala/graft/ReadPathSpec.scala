package graft

import graft.engine.Engine
import graft.store.Store
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The store's one read path — Spark's parquet scan over the catalog file
  * index — as the engine and the `graft-store` stream see it: building a
  * read launches no Spark job at any file count (no listing job past
  * Spark's parallel-discovery threshold of 32 paths), and a micro-batch's
  * scan is its only leaf, so the stream's `numInputRows` is exact.
  */
class ReadPathSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val BuildProp = "graft.test.build"
  private val SentinelProp = "graft.test.sentinel"

  /** Spark jobs started while `build` runs on this thread. Its jobs carry
    * a local property; a sentinel job afterwards drains the listener bus,
    * which delivers events in order. */
  private def jobsFiredBy(build: => Any): Int = {
    val sc = spark.sparkContext
    val fired = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(BuildProp) != null) fired.incrementAndGet()
          if (p.getProperty(SentinelProp) != null) drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(BuildProp, "1")
      try build finally sc.setLocalProperty(BuildProp, null)
      sc.setLocalProperty(SentinelProp, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SentinelProp, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      fired.get
    } finally sc.removeSparkListener(listener)
  }

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
