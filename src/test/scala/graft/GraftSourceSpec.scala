package graft

import graft.sources.GraftOffset
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The `graft-store` connector: batch reads plan from the
  * catalog's exact file list, the micro-batch stream's offsets are
  * per-partition seq cursors (O(new data) discovery, the PipeWorker
  * contract behind the public readStream API), and maintenance
  * (compaction) never re-emits rows.
  */
class GraftSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshStore(): Store =
    new Store(spark, Files.createTempDirectory("graft-src").toString)

  private def ingest(store: Store, tags: Map[String, String], startTs: Long,
      n: Int, prefix: String = "m"): Unit = {
    import spark.implicits._
    store.write(tags, Map("o" -> "t"), (0 until n)
      .map(i => (startTs + i * 1000000000L, s"$prefix$i")).toDF("ts", "msg"))
  }

  private def batchRead(store: Store, from: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft-store").option("root", store.root)
    from.fold(r)(f => r.option("from", f)).load()
  }

  /** Drain the stream with AvailableNow through foreachBatch (the one sink
    * that supports checkpoint recovery for resume tests); returns the
    * collected rows as (part, msg) pairs. */
  private def drain(store: Store, checkpoint: String,
      from: Option[String] = None): Seq[(String, String)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val r = spark.readStream.format("graft-store").option("root", store.root)
    val q = from.fold(r)(f => r.option("from", f)).load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= df.select("part", "msg").collect()
            .map(r => (r.getString(0), r.getString(1)))
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    buf.synchronized(buf.toSeq.sorted)
  }

  test("batch read returns exactly the store content, part decoded from the path") {
    val store = freshStore()
    ingest(store, Map("app" -> "a"), 1000000000L, 3)
    ingest(store, Map("app" -> "b", "env" -> "x,y"), 1000000000L, 2, prefix = "b")
    val got = batchRead(store)
      .select("part", "msg", "ts", "seq", "fields").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getAs[Map[String, String]]("fields"))).toSeq
    val want = store.read(store.partitions().keys.toSeq)
      .select("part", "msg", "ts", "seq", "fields").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getAs[Map[String, String]]("fields"))).toSeq
    assert(got.sortBy(t => (t._1, t._2)) == want.sortBy(t => (t._1, t._2)))
    assert(got.size == 5)
    // quoted tag value round-trips through the catalog, not the file path
    assert(got.exists(_._1.contains("env=\"x,y\"")))
    assert(got.forall(_._4 == Map("o" -> "t")))
  }

  test("from option prunes partitions driver-side (subset and expression)") {
    val store = freshStore()
    ingest(store, Map("app" -> "a"), 1000000000L, 3)
    ingest(store, Map("app" -> "b"), 1000000000L, 2, prefix = "b")
    assert(batchRead(store, Some("{app=a}")).count() == 3)
    assert(batchRead(store, Some("app != a")).count() == 2)
  }

  test("streaming drain equals batch content; a resumed run reads ONLY new data") {
    val store = freshStore()
    ingest(store, Map("app" -> "s1"), 1000000000L, 3)
    ingest(store, Map("app" -> "s2"), 1000000000L, 2, prefix = "b")
    val cp = Files.createTempDirectory("graft-cp").toString

    val phase1 = drain(store, cp)
    assert(phase1.map(_._2).sorted == Seq("b0", "b1", "m0", "m1", "m2"))

    // new appends land in an existing and a brand-new partition
    ingest(store, Map("app" -> "s1"), 50000000000L, 2, prefix = "n")
    ingest(store, Map("app" -> "s3"), 1000000000L, 1, prefix = "z")
    val phase2 = drain(store, cp)
    assert(phase2.map(_._2).sorted == Seq("n0", "n1", "z0"))

    // idle resume: nothing new, nothing emitted
    assert(drain(store, cp).isEmpty)
  }

  test("compaction never re-emits consumed rows (seq-cursor offsets)") {
    val store = freshStore()
    (0 until 3).foreach(i =>
      ingest(store, Map("app" -> "c"), (i + 1) * 10000000000L, 2, prefix = s"c$i-"))
    val cp = Files.createTempDirectory("graft-cp").toString
    assert(drain(store, cp).size == 6)

    assert(store.compact("app=c") == 1) // 3 chunk files -> 1
    ingest(store, Map("app" -> "c"), 90000000000L, 1, prefix = "post")
    // only the post-compaction append appears; the rewritten file (which
    // contains all 6 old rows below the cursor) is filtered by seq
    assert(drain(store, cp).map(_._2) == Seq("post0"))
  }

  test("pipe destinations are excluded unless matched explicitly") {
    val store = freshStore()
    import spark.implicits._
    ingest(store, Map("app" -> "p"), 1000000000L, 2)
    store.write(Map("logrange.pipe" -> "px"), Map.empty,
      Seq((1000000000L, "piped")).toDF("ts", "msg"))
    assert(batchRead(store).count() == 2)
    assert(batchRead(store, Some("{logrange.pipe=px}")).count() == 1)
  }

  test("offset json round-trips tag lines with quotes and separators") {
    val o = GraftOffset(Map("a=1,b=\"x,=y\"" -> 123L, "plain=v" -> -1L))
    assert(GraftOffset.fromJson(o.json()) == o)
    assert(GraftOffset.fromJson(GraftOffset(Map.empty).json()) == GraftOffset(Map.empty))
  }

  test("ts filters prune whole files via catalog stats; results unchanged") {
    val store = freshStore()
    // two chunks per partition with disjoint ts ranges
    ingest(store, Map("app" -> "t1"), 10000000000L, 3) // ts 10..12 s
    ingest(store, Map("app" -> "t1"), 50000000000L, 3) // ts 50..52 s
    ingest(store, Map("app" -> "t2"), 10000000000L, 2)

    val full = batchRead(store)
    // only the second t1 chunk overlaps ts >= 50s
    val filtered = full.where(col("ts") >= 50000000000L)
    assert(filtered.rdd.getNumPartitions == 1,
      "files outside the ts range must not be planned")
    assert(filtered.select("msg").collect().map(_.getString(0)).sorted
      .toSeq == Seq("m0", "m1", "m2"))
    // a range covering nothing plans zero files
    assert(full.where(col("ts") > 99000000000L).rdd.getNumPartitions == 0)
    // in-file pruning is a record filter: a mid-chunk range still matches
    // (t1's 11s,12s rows plus t2's 11s row)
    assert(full.where(col("ts") >= 11000000000L && col("ts") <= 12000000000L)
      .count() == 3)
  }

  test("part equality prunes partitions; column pruning reaches the scan") {
    val store = freshStore()
    ingest(store, Map("app" -> "x"), 1000000000L, 2)
    ingest(store, Map("app" -> "y"), 1000000000L, 3)
    val pruned = batchRead(store).where(col("part") === "app=y")
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.count() == 3)
    // projection: only requested data columns appear in the scan's read
    // schema (`part` is a partition value), so msg, fields and seq are
    // never read
    val slim = batchRead(store).select("part", "ts")
    val scanDesc = slim.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema: struct<ts:bigint>"), s"scan not pruned: $scanDesc")
    assert(slim.count() == 5)
  }

  test("batch scans run the vectorized columnar path") {
    val store = freshStore()
    ingest(store, Map("app" -> "c"), 1000000000L, 4)
    val df = batchRead(store)
    val plan = df.queryExecution.executedPlan.toString
    // the batch reader hands Spark ColumnarBatches; Spark inserts the
    // codegen'd columnar-to-row boundary
    assert(plan.contains("ColumnarToRow"), s"batch scan not columnar:\n$plan")
    assert(df.count() == 4)
  }
}
