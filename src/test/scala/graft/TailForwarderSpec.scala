package graft

import graft.engine.{Engine, Tail}
import graft.store.Store
import graft.streaming.{Forwarder, Syslog}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import java.net.ServerSocket
import java.nio.file.Files
import java.time.Duration
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.{Duration => SDuration}

/** Tail-follow (continuation long-poll) and forwarder/sink behaviour. */
class TailForwarderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshEngine(): Engine = {
    val root = Files.createTempDirectory("graft-tail").toString
    new Engine(new Store(spark, root))
  }

  private def ingest(e: Engine, tags: Map[String, String], startTs: Long,
      n: Int, msgPrefix: String): Unit = {
    import spark.implicits._
    val df = (0 until n).map(i => (startTs + i * 1000000000L, s"$msgPrefix$i"))
      .toDF("ts", "msg")
    e.store.write(tags, Map.empty, df)
  }

  test("bounded select loop: LIMIT caps the total, token resumes after it") {
    val e = freshEngine()
    ingest(e, Map("app" -> "a"), 1000000000L, 40, "m")
    val got = ArrayBuffer.empty[Row]
    val tok = Tail.selectLoop(e, "SELECT FROM {app=a} LIMIT 25", streamMode = false,
      handler = rows => got ++= rows)
    assert(got.length == 25)
    assert(got.map(_.getAs[String]("msg")).toSeq == (0 until 25).map(i => s"m$i"))
    // resume from the returned token: the remaining 15
    val rest = ArrayBuffer.empty[Row]
    Tail.selectLoop(e, "SELECT FROM {app=a} LIMIT 10000", streamMode = false,
      handler = rows => rest ++= rows, startPos = tok)
    assert(rest.map(_.getAs[String]("msg")).toSeq == (25 until 40).map(i => s"m$i"))
  }

  test("stream tail picks up data ingested after the loop started") {
    val e = freshEngine()
    ingest(e, Map("app" -> "t"), 1000000000L, 5, "a")
    val got = ArrayBuffer.empty[String]
    val running = new AtomicBoolean(true)
    val fut = Future {
      Tail.selectLoop(e, "SELECT FROM {app=t} LIMIT 10000", streamMode = true,
        handler = rows => got.synchronized { got ++= rows.map(_.getAs[String]("msg")) },
        waitTimeout = Duration.ofSeconds(5), poll = Duration.ofMillis(100),
        keepRunning = () => running.get())
    }
    // wait for the initial page, then ingest more ("tail -f" behaviour)
    val deadline = System.currentTimeMillis() + 30000
    while (got.synchronized(got.length) < 5 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(got.synchronized(got.length) == 5)
    ingest(e, Map("app" -> "t"), 100000000000L, 3, "b")
    while (got.synchronized(got.length) < 8 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    running.set(false)
    Await.result(fut, SDuration(60, "s"))
    assert(got.synchronized(got.toSeq) ==
      (0 until 5).map(i => s"a$i") ++ (0 until 3).map(i => s"b$i"))
  }

  test("syslog rendering matches the reference format") {
    // pri = (176 & 0xf8) | (6 & 0x07) = 182; µs fraction, trailing zeros cut
    assert(Syslog.format(22 << 3, 6, 1704164645123456789L, "h", "t", "hello") ==
      "<182>1 2024-01-02T03:04:05.123456Z h t - - - hello")
    assert(Syslog.format(22 << 3, 6, 1704164645120000000L, "h", "t", "x") ==
      "<182>1 2024-01-02T03:04:05.12Z h t - - - x")
    assert(Syslog.format(22 << 3, 6, 1704164645000000000L, "h", "t", "x") ==
      "<182>1 2024-01-02T03:04:05Z h t - - - x")
    // newline strip + truncation marker
    assert(Syslog.format(22 << 3, 6, 0L, "h", "t", "a\nb") endsWith "- - - ab")
    val truncated = Syslog.format(22 << 3, 6, 0L, "h", "t", "abcdefgh", lenLimit = 4)
    assert(truncated endsWith "abcd... [truncated]\n")
  }

  test("syslog TCP sink writes newline-delimited frames") {
    val server = new ServerSocket(0)
    val received = Future {
      val s = server.accept()
      val src = scala.io.Source.fromInputStream(s.getInputStream, "UTF-8")
      val lines = src.getLines().take(2).toList
      s.close(); lines
    }
    val sink = new Forwarder.SyslogTcpSink("127.0.0.1", server.getLocalPort,
      hostname = "h")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts BIGINT, msg STRING, tags STRING, fields STRING")
    def row(ts: Long, msg: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](ts, msg, "app=a", ""), schema)
    sink.onEvents(Seq(row(1704164645000000000L, "one"), row(1704164646000000000L, "two")))
    val lines = Await.result(received, SDuration(30, "s"))
    sink.close(); server.close()
    assert(lines == List(
      "<182>1 2024-01-02T03:04:05Z h app=a - - - one",
      "<182>1 2024-01-02T03:04:06Z h app=a - - - two"))
  }

  test("syslog UDP sink sends one frame per datagram, no delimiter") {
    val server = new java.net.DatagramSocket(0)
    server.setSoTimeout(30000)
    val sink = new Forwarder.SyslogUdpSink("127.0.0.1", server.getLocalPort, hostname = "h")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts BIGINT, msg STRING, tags STRING, fields STRING")
    def row(ts: Long, msg: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](ts, msg, "app=a", ""), schema)
    sink.onEvents(Seq(row(1704164645000000000L, "one"), row(1704164646000000000L, "two")))
    def recv(): String = {
      val buf = new Array[Byte](2048)
      val p = new java.net.DatagramPacket(buf, buf.length)
      server.receive(p)
      new String(p.getData, 0, p.getLength, "UTF-8")
    }
    val got = Set(recv(), recv())
    sink.close(); server.close()
    assert(got == Set(
      "<182>1 2024-01-02T03:04:05Z h app=a - - - one",
      "<182>1 2024-01-02T03:04:06Z h app=a - - - two"))
  }

  test("pipe restart: startAll resumes from the checkpoint without reprocessing") {
    val e = freshEngine()
    ingest(e, Map("app" -> "r"), 1000000000L, 6, "one-")
    e.execute("CREATE PIPE pr FROM {app=r}")
    e.pipes.processAllAvailable()
    e.pipes.stopAll()
    assert(e.select("SELECT FROM {logrange.pipe=pr} LIMIT 100").count() == 6)
    // new data while the pipe is down, then restart — checkpoint resumes
    ingest(e, Map("app" -> "r"), 50000000000L, 4, "two-")
    e.pipes.startAll()
    e.pipes.processAllAvailable()
    e.pipes.stopAll()
    val msgs = e.select("SELECT FROM {logrange.pipe=pr} LIMIT 100")
      .collect().map(_.getAs[String]("msg")).sorted.toSeq
    assert(msgs == ((0 until 6).map(i => s"one-$i") ++ (0 until 4).map(i => s"two-$i")).sorted)
    // SHOW PIPES / DESCRIBE PIPE reflect the registration
    assert(e.execute("SHOW PIPES").collect().map(_.getString(0)).toSeq == Seq("pr"))
    assert(e.execute("DESCRIBE PIPE pr").head.getAs[String]("partition") == "logrange.pipe=pr")
    // DELETE PIPE keeps the destination partition
    e.execute("DELETE PIPE pr")
    assert(e.execute("SHOW PIPES").collect().isEmpty)
    assert(e.select("SELECT FROM {logrange.pipe=pr} LIMIT 100").count() == 10)
  }

  test("pipe backlog drains across multiple bounded micro-batches") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    val e = new Engine(store)
    // 6 separate appends = 6 parquet files of backlog before the pipe starts
    (0 until 6).foreach(i => ingest(e, Map("app" -> "bl"), (i + 1) * 10000000000L, 2, s"b$i-"))
    val pipes = new graft.streaming.PipeService(store, maxFilesPerTrigger = 2)
    e.parse("CREATE PIPE bp FROM {app=bl}") match {
      case c: graft.lql.Ast.CreatePipe => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    val batches = pipes.worker("bp").get.batches
    pipes.stopAll()
    assert(batches >= 3, s"6-file backlog at maxFilesPerTrigger=2 should take >=3 batches, took $batches")
    assert(e.select("SELECT FROM {logrange.pipe=bp} LIMIT 100").count() == 12,
      "bounded batches still drain the whole backlog")
  }

  test("pipe discovery is O(new data): a trigger after a drain reads only the new files") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    val e = new Engine(store)
    // 5 appends = 5 catalog files of history before the pipe exists
    (0 until 5).foreach(i => ingest(e, Map("app" -> "od"), (i + 1) * 10000000000L, 2, s"h$i-"))
    val pipes = new graft.streaming.PipeService(store)
    e.parse("CREATE PIPE od FROM {app=od}") match {
      case c: graft.lql.Ast.CreatePipe => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    val w = pipes.worker("od").get
    assert(w.filesConsumed == 5, "initial drain reads the 5-file backlog once")
    // one new append: discovery must plan exactly ONE file, not re-list or
    // re-read the store's total (the catalog-diff O(new data) property)
    ingest(e, Map("app" -> "od"), 100000000000L, 2, "n-")
    pipes.processAllAvailable()
    assert(w.filesConsumed == 6, "a new append costs exactly its own file count")
    pipes.stopAll()
    assert(e.select("SELECT FROM {logrange.pipe=od} LIMIT 100").count() == 12)
  }

  test("pipe defers catalog entries above the in-flight epoch watermark") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    val e = new Engine(store)
    import spark.implicits._
    ingest(e, Map("app" -> "inv"), 1000000000L, 2, "a-")
    val pipes = new graft.streaming.PipeService(store)
    e.parse("CREATE PIPE inv FROM {app=inv}") match {
      case c: graft.lql.Ast.CreatePipe => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    // simulate a still-running lower-epoch append: allocate an epoch and
    // pin it in flight by hand (what appendWithSeq does around the job)
    val dummy = store.assignSeq(Seq((1L, "x")).toDF("ts", "msg")
      .withColumn("part", org.apache.spark.sql.functions.lit("app=inv")))
    val epoch = dummy.agg(org.apache.spark.sql.functions.max("seq"))
      .head.getLong(0) >> Store.SeqEpochShift
    Store.inFlightFor(store.root).put(epoch, Store.InFlight(System.nanoTime()))
    // a LATER append registers first (completion order != epoch order)
    ingest(e, Map("app" -> "inv"), 50000000000L, 2, "b-")
    val w = pipes.worker("inv").get
    assert(w.trigger() == 0,
      "entries above the watermark must be deferred, not processed")
    // an in-flight append that declared DISJOINT target partitions must
    // not defer this pipe: swap the global pin for a hinted one
    Store.inFlightFor(store.root).put(epoch,
      Store.InFlight(System.nanoTime(), Some(Set("app=other"))))
    assert(w.trigger() > 0,
      "a disjoint-partition in-flight append must not defer the pipe")
    // lower-epoch append resolves → nothing further to drain, no loss
    Store.inFlightFor(store.root).remove(epoch)
    pipes.processAllAvailable()
    pipes.stopAll()
    assert(e.select("SELECT FROM {logrange.pipe=inv} LIMIT 100").count() == 4)
  }

  test("pipe trigger replans when a planned file vanishes mid-trigger") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    val e = new Engine(store)
    ingest(e, Map("app" -> "fnf"), 1000000000L, 2, "a-")
    val pipes = new graft.streaming.PipeService(store)
    e.parse("CREATE PIPE fnf FROM {app=fnf}") match {
      case c: graft.lql.Ast.CreatePipe => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    // a catalog entry whose file a concurrent TRUNCATE/compact already
    // deleted: the scan fails FileNotFound; a healer thread completes the
    // catalog swap while the worker backs off and replans
    val ghost = graft.store.CatEntry("app=fnf", s"$root/data/part=app%3Dfnf/ghost.parquet",
      1L, 1L, 0L, 0L, System.currentTimeMillis() * 1000000L, Long.MaxValue - 1)
    store.catalog.append(Seq(ghost))
    ingest(e, Map("app" -> "fnf"), 50000000000L, 2, "b-")
    val healer = new Thread(() => {
      Thread.sleep(150)
      store.catalog.replace(Set(ghost.file), Nil)
    })
    healer.start()
    pipes.processAllAvailable()
    healer.join()
    pipes.stopAll()
    assert(e.select("SELECT FROM {logrange.pipe=fnf} LIMIT 100").count() == 4,
      "the replanned trigger must deliver the surviving rows exactly once")
  }

  test("pipe WHERE with a relative datetime re-anchors every trigger") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    var nowMs = 1700000000000L
    val clock = () => java.time.Instant.ofEpochMilli(nowMs)
    val pipes = new graft.streaming.PipeService(store, clock)
    val e = new Engine(store)
    import spark.implicits._
    val t1 = (nowMs - 60000L) * 1000000L // one minute old: inside -5m
    store.write(Map("app" -> "rw"), Map.empty, Seq((t1, "fresh")).toDF("ts", "msg"))
    new graft.lql.Parser(clock).parse("CREATE PIPE rw FROM {app=rw} WHERE ts > \"-5m\"") match {
      case Right(c: graft.lql.Ast.CreatePipe) => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    assert(e.select("SELECT FROM {logrange.pipe=rw} LIMIT 100").count() == 1)
    // ten minutes later the same row ts is OUTSIDE the window: a frozen
    // compile would still pass it, a per-trigger compile must drop it
    nowMs += 600000L
    store.write(Map("app" -> "rw"), Map.empty, Seq((t1, "stale")).toDF("ts", "msg"))
    pipes.processAllAvailable()
    pipes.stopAll()
    assert(e.select("SELECT FROM {logrange.pipe=rw} LIMIT 100").count() == 1,
      "the -5m window must re-anchor against the clock each trigger")
  }

  test("compacting a source partition mid-pipe never duplicates rows") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    val e = new Engine(store)
    (0 until 3).foreach(i => ingest(e, Map("app" -> "cs"), (i + 1) * 10000000000L, 2, s"c$i-"))
    val pipes = new graft.streaming.PipeService(store)
    e.parse("CREATE PIPE cs FROM {app=cs}") match {
      case c: graft.lql.Ast.CreatePipe => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    assert(e.select("SELECT FROM {logrange.pipe=cs} LIMIT 100").count() == 6)
    // compact the SOURCE partition while the pipe runs: rewritten files keep
    // their seqs, so they sit at/below the cursor and are never reprocessed
    assert(store.compact("app=cs") == 1)
    pipes.processAllAvailable()
    assert(e.select("SELECT FROM {logrange.pipe=cs} LIMIT 100").count() == 6,
      "compaction rewrites must not re-enter the pipe")
    // new data after the compaction still flows
    ingest(e, Map("app" -> "cs"), 100000000000L, 2, "n-")
    pipes.processAllAvailable()
    pipes.stopAll()
    assert(e.select("SELECT FROM {logrange.pipe=cs} LIMIT 100").count() == 8)
  }

  test("pipe auto-compacts its destination partition past the file threshold") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new Store(spark, root)
    val e = new Engine(store)
    val pipes = new graft.streaming.PipeService(store, maxFilesPerTrigger = 1,
      compactThreshold = 3)
    ingest(e, Map("app" -> "ac"), 10000000000L, 2, "x0-")
    e.parse("CREATE PIPE ac FROM {app=ac}") match {
      case c: graft.lql.Ast.CreatePipe => pipes.create(c)
      case other => fail(s"unexpected $other")
    }
    pipes.processAllAvailable()
    (1 until 6).foreach { i =>
      ingest(e, Map("app" -> "ac"), (i + 1) * 100000000000L, 2, s"x$i-")
      pipes.processAllAvailable()
    }
    pipes.stopAll()
    val destFiles = store.catalog.load().count(_.part == "logrange.pipe=ac")
    assert(destFiles < 6, s"6 micro-batch appends must have been compacted, got $destFiles files")
    val rows = e.select("SELECT FROM {logrange.pipe=ac} LIMIT 100").collect()
    assert(rows.length == 12, "compaction during streaming loses nothing")
    assert(rows.map(_.getAs[String]("msg")).toSeq ==
      (0 until 6).flatMap(i => Seq(s"x$i-0", s"x$i-1")), "total order preserved")
  }

  test("forwarder pumps pipe output to the sink and persists position") {
    val e = freshEngine()
    ingest(e, Map("app" -> "f"), 1000000000L, 10, "keep-x-")
    ingest(e, Map("app" -> "f"), 50000000000L, 5, "drop-y-")
    val collected = ArrayBuffer.empty[String]
    val rounds = new AtomicInteger(0)
    val sink = new Forwarder.Sink {
      def onEvents(events: Seq[Row]): Unit =
        collected ++= events.map(_.getAs[String]("msg"))
    }
    Forwarder.run(e, "fw1", sink,
      from = Some("{app=f}"), where = Some("msg CONTAINS 'x'"),
      waitTimeout = Duration.ofMillis(300), poll = Duration.ofMillis(100),
      keepRunning = () => rounds.incrementAndGet() <= 4)
    e.pipes.processAllAvailable()
    // a second bounded run to drain anything the pipe produced late
    Forwarder.run(e, "fw1", sink,
      waitTimeout = Duration.ofMillis(300), poll = Duration.ofMillis(100),
      keepRunning = { val r = new AtomicInteger(0); () => r.incrementAndGet() <= 3 })
    e.pipes.stopAll()
    assert(collected.toSeq == (0 until 10).map(i => s"keep-x-$i"))
    // position file exists; a fresh run re-forwards nothing
    val before = collected.length
    Forwarder.run(e, "fw1", sink,
      waitTimeout = Duration.ofMillis(200), poll = Duration.ofMillis(100),
      keepRunning = { val r = new AtomicInteger(0); () => r.incrementAndGet() <= 2 })
    assert(collected.length == before)
  }

  test("forwarder closes the sink when it throws and keeps the saved position") {
    val e = freshEngine()
    val posFile = java.nio.file.Paths.get(s"${e.store.root}/forwarder/fwx.pos")
    val got = ArrayBuffer.empty[String]
    val good = new Forwarder.Sink {
      def onEvents(events: Seq[Row]): Unit = got ++= events.map(_.getAs[String]("msg"))
    }
    def bounded(rounds: Int): () => Boolean = {
      val r = new AtomicInteger(0); () => r.incrementAndGet() <= rounds
    }
    ingest(e, Map("app" -> "fx"), 1000000000L, 3, "a")
    Forwarder.run(e, "fwx", good, from = Some("{app=fx}"), keepRunning = () => false)
    e.pipes.processAllAvailable()
    Forwarder.run(e, "fwx", good, waitTimeout = Duration.ofMillis(300),
      poll = Duration.ofMillis(100), keepRunning = bounded(3))
    assert(got.toSeq == (0 until 3).map(i => s"a$i"))
    val saved = Files.readString(posFile)

    ingest(e, Map("app" -> "fx"), 50000000000L, 3, "b")
    e.pipes.processAllAvailable()
    val closed = new AtomicBoolean(false)
    val failing = new Forwarder.Sink {
      def onEvents(events: Seq[Row]): Unit = throw new java.io.IOException("sink down")
      override def close(): Unit = closed.set(true)
    }
    val ex = intercept[java.io.IOException] {
      Forwarder.run(e, "fwx", failing, waitTimeout = Duration.ofMillis(300),
        poll = Duration.ofMillis(100), keepRunning = bounded(10))
    }
    e.pipes.stopAll()
    assert(ex.getMessage == "sink down")
    assert(closed.get(), "the sink must be closed when the pump fails")
    assert(Files.readString(posFile) == saved,
      "the position must not advance past a batch the sink rejected")
  }

  test("forwarder keeps its position under a file: store root") {
    val dir = Files.createTempDirectory("graft-fwd-uri").toFile
    val e = new Engine(new Store(spark, "file:" + dir.getAbsolutePath))
    val strayBefore = new java.io.File("file:").exists()
    ingest(e, Map("app" -> "fu"), 1000000000L, 4, "u")
    val got = ArrayBuffer.empty[String]
    val sink = new Forwarder.Sink {
      def onEvents(events: Seq[Row]): Unit = got ++= events.map(_.getAs[String]("msg"))
    }
    def bounded(rounds: Int): () => Boolean = {
      val r = new AtomicInteger(0); () => r.incrementAndGet() <= rounds
    }
    Forwarder.run(e, "fu", sink, from = Some("{app=fu}"), keepRunning = () => false)
    e.pipes.processAllAvailable()
    Forwarder.run(e, "fu", sink, waitTimeout = Duration.ofMillis(300),
      poll = Duration.ofMillis(100), keepRunning = bounded(3))
    assert(got.toSeq == (0 until 4).map(i => s"u$i"))
    assert(new java.io.File(dir, "pipes.jsonl").exists())
    assert(new java.io.File(dir, "forwarder/fu.pos").exists(), "the position lives under the root")
    assert(strayBefore || !new java.io.File("file:").exists(),
      "no file: directory in the working directory")
    // a restarted forwarder resumes from the saved position
    Forwarder.run(e, "fu", sink, waitTimeout = Duration.ofMillis(200),
      poll = Duration.ofMillis(100), keepRunning = bounded(2))
    e.pipes.stopAll()
    assert(got.length == 4, "a second run re-forwards nothing")
  }

  test("a failing pipe trigger is recorded and backs off; the next good trigger clears it") {
    import spark.implicits._
    val e = freshEngine()
    val tags = Map("app" -> "pf")
    e.store.write(tags, Map.empty, Seq((1000000000L, "a")).toDF("ts", "msg"))
    e.store.write(tags, Map.empty, Seq((2000000000L, "b")).toDF("ts", "msg"))
    // delete one chunk behind the catalog's back: every trigger fails on it
    val gone = e.store.catalog.load().filter(_.part == "app=pf").minBy(_.minTs).file
    assert(new java.io.File(new org.apache.hadoop.fs.Path(gone).toUri.getPath).delete())
    val svc = new graft.streaming.PipeService(e.store, pollMs = 50L)
    svc.create(e.parse("CREATE PIPE pf FROM {app=pf}").asInstanceOf[graft.lql.Ast.CreatePipe])
    val w = svc.worker("pf").get
    val deadline = System.currentTimeMillis() + 60000
    while (w.consecutiveFailures < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(w.consecutiveFailures >= 2, "the background loop keeps counting failures")
    val name = new org.apache.hadoop.fs.Path(gone).getName
    assert(w.lastFailure.exists(t => String.valueOf(t.getMessage).contains(name)),
      s"lastFailure names the missing file: ${w.lastFailure}")
    assert(graft.streaming.PipeService.backoffMs(50L, 0) == 50L)
    assert(graft.streaming.PipeService.backoffMs(50L, 1) == 50L)
    assert(graft.streaming.PipeService.backoffMs(50L, 3) == 200L)
    assert(graft.streaming.PipeService.backoffMs(50L, 40) == graft.streaming.PipeService.MaxBackoffMs)
    // drop the entry: the next trigger reads the surviving chunk (driven
    // here, with the background loop stopped, so it is the one that does)
    w.stop()
    e.store.deleteFiles(Seq(gone))
    assert(w.trigger() == 1)
    assert(w.consecutiveFailures == 0)
    svc.stopAll()
    val rows = e.select("SELECT FROM {logrange.pipe=pf} LIMIT 10").collect()
    assert(rows.map(_.getAs[String]("msg")).toSeq == Seq("b"))
  }
}
