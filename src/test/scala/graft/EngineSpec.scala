package graft

import graft.engine.Engine
import graft.lql.Ast.LqlException
import graft.store.Store
import org.apache.spark.sql.functions.{lit, typedLit}
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

  test("the page's observed token equals the full-sort token (randomized, ts ties across and within parts)") {
    import spark.implicits._
    val e = freshEngine()
    val rnd = new scala.util.Random(13)
    // ts on a 6-second grid: ties within each part and across the three
    // parts; two writes per part, so two files and two seq epochs each
    for (app <- Seq("a", "b", "c"); batch <- 0 until 2) {
      val rows = (0 until 12).map(i => ((1 + rnd.nextInt(6)) * 1000000000L,
        s"$app$batch-$i" + (if (rnd.nextInt(3) == 0) "x" else "")))
      e.store.write(Map("app" -> app), Map.empty, rows.toDF("ts", "msg"))
    }
    final case class K(ts: Long, part: String, seq: Long, msg: String) {
      def key: (Long, String, Long) = (ts, part, seq)
    }
    val all = e.store.read(e.prune(None)).select("ts", "part", "seq", "msg").collect()
      .map(r => K(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
      .sortBy(_.key)

    (0 until 40).foreach { round =>
      val fromB = rnd.nextInt(4) == 0
      val where = rnd.nextInt(3) == 0
      val range = if (rnd.nextInt(3) == 0) {
        val lo = 1 + rnd.nextInt(6)
        Some((lo * 1000000000L, (lo + rnd.nextInt(3)) * 1000000000L))
      } else None
      val format = rnd.nextInt(3) == 0
      val limit = 1 + rnd.nextInt(15)
      val at = all(rnd.nextInt(all.size))
      // 0 head, 1 tail, 2 continuation (OFFSET >= 0), 3 continuation (OFFSET < 0)
      val kind = rnd.nextInt(4)
      val offset = kind match {
        case 0 | 2 => rnd.nextInt(4)
        case _ => -(1 + rnd.nextInt(10))
      }
      val position = kind match {
        case 0 => ""
        case 1 => " POSITION tail"
        case _ => s""" POSITION "${e.PosKey(at.ts, at.part, at.seq).token}""""
      }
      val lql = (if (format) "SELECT \"{msg}|{vars:app}\"" else "SELECT") +
        (if (fromB) " FROM {app=b}" else "") +
        range.map { case (lo, hi) => s""" RANGE ["$lo":"$hi"]""" }.getOrElse("") +
        (if (where) " WHERE msg CONTAINS \"x\"" else "") +
        position + s" OFFSET $offset LIMIT $limit"

      // the model: the engine's page semantics over the sorted rows
      val rows = all.filter(k => (!fromB || k.part == "app=b") && (!where || k.msg.contains("x")) &&
        range.forall { case (lo, hi) => k.ts >= lo && k.ts <= hi })
      val after = (k: K) => Ordering[(Long, String, Long)].gt(k.key, at.key)
      val want = kind match {
        case 0 => rows.drop(offset).take(limit)
        case 1 => rows.takeRight(-offset).take(limit)
        case _ if offset >= 0 => rows.filter(after).drop(offset).take(limit)
        case _ => (rows.filterNot(after).takeRight(-offset) ++ rows.filter(after)).take(limit)
      }
      // the reference token: the page's keys sorted descending, first row
      val refToken = want.sortBy(_.key)(Ordering[(Long, String, Long)].reverse).headOption
        .map(k => e.PosKey(k.ts, k.part, k.seq).token)

      val (df, keys) = e.selectWithToken(e.parse(lql).asInstanceOf[graft.lql.Ast.Select])
      // every other round asks for the token before the page runs
      val early = if (round % 2 == 0) Some(e.pageToken(keys)) else None
      val got = df.collect().map { r =>
        if (format) {
          val Array(msg, app) = r.getAs[String]("line").split('|')
          assert(s"app=$app" == all.find(_.msg == msg).get.part, lql)
          msg
        } else r.getAs[String]("msg")
      }.toSeq
      assert(got == want.map(_.msg), lql)
      assert(e.pageToken(keys) == refToken, lql)
      early.foreach(t => assert(t == refToken, lql))
    }
  }

  test("a driver-local Store.write numbers and writes its batch in one job, with no exchange") {
    import spark.implicits._
    val e = freshEngine()
    // ts ties: seq must follow the content order (ts, msg, fields)
    val rows = (0 until 20).map(i => ((1 + i % 4) * 1000000000L, s"m${(i * 7) % 20}"))
    val fired = TestSpark.fired(
      e.store.write(Map("app" -> "w"), Map("k" -> "v"), rows.toDF("ts", "msg")))
    assert(fired.jobs == 1)
    assert(fired.plans.nonEmpty && fired.plans.forall(!_.contains("Exchange")),
      fired.plans.mkString("\n"))
    val mask = (1L << Store.SeqEpochShift) - 1
    def seqs(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select("msg", "seq").collect().map(r => r.getString(0) -> (r.getLong(1) & mask)).toMap
    val written = seqs(e.store.read(Seq("app=w")))
    assert(written.values.toSet == (0L until 20L).toSet)
    assert(written == seqs(e.store.assignSeq(rows.toDF("ts", "msg")
      .withColumn("fields", typedLit(Map("k" -> "v")))
      .withColumn("part", lit("app=w")))))
  }

  test("a multi-part driver-local appendWithSeq writes one file per part unless maxRecordsPerFile splits it") {
    import spark.implicits._
    val rows = for (app <- Seq("p", "q", "r"); i <- 0 until 5)
      yield ((i + 1) * 1000000000L, s"$app$i", s"app=$app")
    def load(maxRecordsPerFile: Long): Engine = {
      val e = freshEngine()
      e.store.appendWithSeq(rows.toDF("ts", "msg", "part")
        .withColumn("fields", typedLit(Map.empty[String, String])), maxRecordsPerFile)
      e
    }
    Seq(0L -> 1, 2L -> 3).foreach { case (maxRecords, files) =>
      val e = load(maxRecords)
      Seq("app=p", "app=q", "app=r").foreach { part =>
        assert(e.store.catalog.entriesForPart(part).size == files, s"$part, maxRecordsPerFile $maxRecords")
        val got = e.store.read(Seq(part)).orderBy("seq").select("msg").collect().map(_.getString(0))
        assert(got.toSeq == (0 until 5).map(i => s"${part.last}$i"))
      }
    }
  }
}
