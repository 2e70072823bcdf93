package graft

import graft.engine.Engine
import graft.lql.Ast.LqlException
import graft.store.Store
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Engine-level behaviours not covered by the oracle entries: the
  * 50-partition cap error, malformed continuation tokens, SHOW PARTITIONS
  * size ordering and totals, TRUNCATE MAXDBSIZE whole-partition deletion,
  * and seq uniqueness across appends.
  */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshEngine(): Engine =
    new Engine(new Store(spark, Files.createTempDirectory("graft-eng").toString))

  private def ingest(e: Engine, tags: Map[String, String], startTs: Long,
      n: Int, pad: Int = 0): Unit = {
    import spark.implicits._
    val padStr = "x" * pad
    val df = (0 until n).map(i => (startTs + i * 1000000000L, s"m$i$padStr"))
      .toDF("ts", "msg")
    e.store.write(tags, Map.empty, df)
  }

  test("queries matching more than 50 partitions error, not truncate (reference GetJournals)") {
    val e = freshEngine()
    (0 until 55).foreach(i => ingest(e, Map("app" -> f"a$i%02d"), 1000000000L, 1))
    val ex = intercept[LqlException] { e.select("SELECT LIMIT 10") }
    assert(ex.getMessage.contains("Limit exceeds"))
    // a selective FROM under the cap still works
    assert(e.select("SELECT FROM {app=a07} LIMIT 10").count() == 1)
  }

  test("malformed continuation tokens are LqlException, not raw errors") {
    val e = freshEngine()
    ingest(e, Map("app" -> "t"), 1000000000L, 3)
    Seq("tok:!!!not-base64!!!", "tok:" + java.util.Base64.getUrlEncoder.encodeToString(
      "1|x|y".getBytes)).foreach { bad =>
      val ex = intercept[LqlException] {
        e.select(s"""SELECT POSITION "$bad" LIMIT 10""").collect()
      }
      assert(ex.getMessage.contains("position"))
    }
  }

  test("SHOW PARTITIONS sorts by size desc and totals cover all matches") {
    val e = freshEngine()
    ingest(e, Map("app" -> "big"), 1000000000L, 50, pad = 200)
    ingest(e, Map("app" -> "mid"), 1000000000L, 20, pad = 100)
    ingest(e, Map("app" -> "small"), 1000000000L, 3)
    val rows = e.execute("SHOW PARTITIONS").collect()
    assert(rows.map(_.getAs[String]("partition")).toSeq ==
      Seq("app=big", "app=mid", "app=small"))
    val sizes = rows.map(_.getAs[Long]("size_bytes"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b })
    // paging keeps the order; totals ignore paging
    val page = e.execute("SHOW PARTITIONS OFFSET 1 LIMIT 1").collect()
    assert(page.map(_.getAs[String]("partition")).toSeq == Seq("app=mid"))
    val (cnt, totalSize, totalRecs) = e.showPartitionsTotals(None)
    assert(cnt == 3 && totalRecs == 73 && totalSize == sizes.sum)
  }

  test("TRUNCATE MAXDBSIZE deletes least-recently-written partitions wholly") {
    val e = freshEngine()
    ingest(e, Map("app" -> "old"), 1000000000L, 10, pad = 100)
    Thread.sleep(10) // writeTs orders partitions by last write
    ingest(e, Map("app" -> "new"), 1000000000L, 10, pad = 100)
    val report = e.execute("TRUNCATE DRYRUN MAXDBSIZE 1").collect()
      .map(r => r.getAs[String]("partition") -> r.getAs[Boolean]("deleted")).toMap
    assert(report("app=old") && report("app=new"))
    // big budget: nothing deleted
    val report2 = e.execute("TRUNCATE DRYRUN MAXDBSIZE 1000000000").collect()
    assert(report2.forall(!_.getAs[Boolean]("deleted")))
    // DRYRUN must not have removed anything
    assert(e.select("SELECT LIMIT 10000").count() == 20)
  }

  test("TRUNCATE (not dryrun) really deletes and the store stays consistent") {
    val e = freshEngine()
    ingest(e, Map("app" -> "d"), 1000000000L, 10)
    assert(e.select("SELECT FROM {app=d} LIMIT 100").count() == 10)
    e.execute("TRUNCATE {app=d} MAXSIZE 1")
    assert(e.select("SELECT FROM {app=d} LIMIT 100").count() == 0)
    assert(e.execute("SHOW PARTITIONS").collect().isEmpty)
  }

  test("TRUNCATE keeps a file an append has moved into data/ but not yet registered") {
    val e = freshEngine()
    ingest(e, Map("app" -> "d"), 1000000000L, 10)
    // the window inside Store.append between the rename into data/ and
    // the catalog commit: a parquet file in a partition dir the catalog
    // does not know yet
    val registered = e.store.catalog.entriesForPart("app=d").head.file
    val pendingDir = new java.io.File(s"${e.store.dataDir}/part=app%3Dpending")
    assert(pendingDir.mkdirs())
    val pending = new java.io.File(pendingDir, "part-00000-pending.c000.snappy.parquet")
    Files.copy(java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(registered).toUri.getPath),
      pending.toPath)
    e.execute("TRUNCATE {app=d} MAXSIZE 1")
    assert(e.select("SELECT FROM {app=d} LIMIT 100").count() == 0)
    assert(pending.exists(), "TRUNCATE deleted a file of another, not yet registered partition")
  }

  test("salted append spreads a hot partition over several files, same results") {
    import spark.implicits._
    val e = freshEngine()
    val rows = (0 until 200).map(i => (1000000000L + i * 1000000L, s"m$i", i.toLong, "app=hot"))
      .toDF("ts", "msg", "seq", "part")
      .withColumn("fields", org.apache.spark.sql.functions.map().cast("map<string,string>"))
    e.store.append(rows, saltBuckets = 4)
    val files = e.store.catalog.load().filter(_.part == "app=hot")
    assert(files.size > 1, "salting should produce multiple files")
    val got = e.select("SELECT FROM {app=hot} LIMIT 10000").collect()
    assert(got.length == 200)
    assert(got.map(_.getAs[String]("msg")).toSeq == (0 until 200).map(i => s"m$i"))
  }

  test("(part, seq) stays unique across separate appends") {
    val e = freshEngine()
    ingest(e, Map("app" -> "u"), 1000000000L, 5)
    ingest(e, Map("app" -> "u"), 50000000000L, 5)
    val seqs = e.store.read(Seq("app=u")).select("seq").collect().map(_.getLong(0))
    assert(seqs.length == 10 && seqs.distinct.length == 10)
  }

  test("compact merges a partition's chunk files, same rows and order") {
    val e = freshEngine()
    (0 until 5).foreach(i => ingest(e, Map("app" -> "cp"), (i + 1) * 10000000000L, 10))
    assert(e.store.catalog.load().count(_.part == "app=cp") == 5)
    val before = e.select("SELECT FROM {app=cp} LIMIT 1000").collect()
      .map(_.getAs[String]("msg")).toSeq
    val n = e.store.compact("app=cp")
    assert(n == 1, s"5 tiny chunks should compact to one file, got $n")
    assert(e.store.catalog.load().count(_.part == "app=cp") == 1)
    assert(e.store.read(Seq("app=cp")).inputFiles.length == 1)
    val after = e.select("SELECT FROM {app=cp} LIMIT 1000").collect()
      .map(_.getAs[String]("msg")).toSeq
    assert(after == before, "compaction must not change results or order")
    // records/stats survive in the catalog (SHOW PARTITIONS unchanged)
    assert(e.execute("SHOW PARTITIONS").collect()
      .find(_.getAs[String]("partition") == "app=cp").get.getAs[Long]("records") == 50)
  }

  test("RANGE prunes non-overlapping chunks from the scan's file list") {
    val e = freshEngine()
    // three appends = three files with disjoint ts ranges (catalog footers)
    ingest(e, Map("app" -> "c"), 1000000000L, 5)           // 1s..5s
    ingest(e, Map("app" -> "c"), 1000000000000L, 5)        // 1000s..
    ingest(e, Map("app" -> "c"), 2000000000000L, 5)        // 2000s..
    assert(e.store.read(Seq("app=c")).inputFiles.length == 3)
    val pruned = e.store.read(Seq("app=c"), Some((999000000000L, 1100000000000L)))
    assert(pruned.inputFiles.length == 1, "only the overlapping chunk is scanned")
    // end-to-end: the LQL RANGE returns exactly the middle batch
    val got = e.select(
      "SELECT FROM {app=c} RANGE [\"999000000000\":\"1100000000000\"] LIMIT 100")
    assert(got.count() == 5)
  }

  test("continuation token prunes chunks that end before its position") {
    val e = freshEngine()
    ingest(e, Map("app" -> "k"), 1000000000L, 5)           // file 1: 1s..5s
    ingest(e, Map("app" -> "k"), 1000000000000L, 5)        // file 2: 1000s..
    ingest(e, Map("app" -> "k"), 2000000000000L, 5)        // file 3: 2000s..
    val sel = e.parse("SELECT FROM {app=k} LIMIT 10") match {
      case s: graft.lql.Ast.Select => s
      case other => fail(s"unexpected $other")
    }
    val (_, keys) = e.selectWithToken(sel)
    val tok = e.pageToken(keys).get // position = last row of file 2
    val page2sel = e.parse(s"""SELECT FROM {app=k} POSITION "$tok" LIMIT 10""") match {
      case s: graft.lql.Ast.Select => s
      case other => fail(s"unexpected $other")
    }
    val (page2, _) = e.selectWithToken(page2sel)
    assert(page2.count() == 5)
    assert(page2.inputFiles.length == 2,
      "file 1 (maxTs < token ts) must be pruned; file 2 stays for ts ties")
  }

  test("concurrent seq allocation to one partition cannot collide (epochs)") {
    import spark.implicits._
    val e = freshEngine()
    // the old read-high-water-then-append scheme gave both of these the
    // same base because neither batch has been appended yet
    val df = (0 until 5).map(i => (1000000000L + i, s"m$i", "app=race")).toDF("ts", "msg", "part")
    val a = e.store.assignSeq(df).select("seq").collect().map(_.getLong(0)).toSet
    val b = e.store.assignSeq(df).select("seq").collect().map(_.getLong(0)).toSet
    assert(a.intersect(b).isEmpty, s"colliding seqs: ${a.intersect(b)}")
    assert(a.max < b.min, "later epoch must sort after the earlier one")
  }

  test("assignSeq: (content -> seq) mapping is stable under permuted input order (simulated retry)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, rand}
    val e = freshEngine()
    // duplicate ts values force tie-breaks — exactly where the old
    // monotonically_increasing_id arrival stamp permuted under a stage
    // retry with nondeterministic upstream order
    val rows = (0 until 40).map(i => (1000000000L + (i % 7), s"m$i",
      Map("k" -> s"v${i % 3}"), "app=retry"))
    val base = rows.toDF("ts", "msg", "fields", "part")
    def mapping(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      e.store.assignSeq(df).select("ts", "msg", "seq").collect()
        // mask off the per-call epoch: compare the dense in-batch numbers
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2) & ((1L << graft.store.Store.SeqEpochShift) - 1)))
        .toMap
    // two different physical orders of the SAME logical batch — what an
    // upstream stage retry can produce
    val a = mapping(base.orderBy(rand(1)))
    val b = mapping(base.orderBy(rand(99)).repartition(7))
    assert(a == b, "seq assignment must depend on row content, not physical order")
  }

  test("seq epochs restart above the persisted high-water mark") {
    val root = Files.createTempDirectory("graft-eng").toString
    val e = new Engine(new Store(spark, root))
    ingest(e, Map("app" -> "hw"), 1000000000L, 3)
    val hw = e.store.read(Seq("app=hw")).select("seq").collect().map(_.getLong(0)).max
    // a second Store over the same root; forgetting the in-JVM counter
    // forces re-initialization from the persisted catalog high-water mark
    // (the actual restart-recovery branch)
    graft.store.Store.forgetEpoch(root)
    val e2 = new Engine(new Store(spark, root))
    ingest(e2, Map("app" -> "hw"), 90000000000L, 3)
    val seqs = e2.store.read(Seq("app=hw")).select("seq").collect().map(_.getLong(0))
    assert(seqs.length == 6 && seqs.distinct.length == 6)
    assert(seqs.max > hw)
  }
}
