package graft.queries

import graft.engine.{Engine, Tail}
import graft.store.{EventStore, Store}
import graft.streaming.{Forwarder, Syslog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Admin/lifecycle entries that MUTATE a store: each call builds a tiny
  * throwaway store under a fresh temp root, so repeated runs are
  * deterministic and the shared EventStore/PipeStore stay untouched (the
  * PipeStore/IngestStore isolation rule, per-invocation here because these
  * entries delete data). Byte sizes are physical (compression-dependent),
  * so rows expose only record counts, rank orders and rendered frames —
  * all deterministic.
  */
object AdminQueries {

  private def freshEngine(spark: SparkSession): Engine = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-admin-${java.util.UUID.randomUUID()}"
    new Engine(new Store(spark, root))
  }

  /** Every entry's result is driver-materialized (SHOW/TRUNCATE/pipe
    * listings build DataFrames from local rows), so the throwaway store can
    * be deleted before returning — repeated gate+bench runs must not
    * accumulate orphaned trees in tmp. */
  private def discard(e: Engine): Unit = {
    EventStore.rm(new java.io.File(e.store.root))
    Store.forgetEpoch(e.store.root)
  }

  private def ingest(e: Engine, tags: Map[String, String], startTs: Long,
      n: Int, pad: Int = 0, prefix: String = "m"): Unit = {
    val spark = e.store.spark
    import spark.implicits._
    val padStr = "x" * pad
    // seq supplied (unique across calls via the distinct startTs base) so
    // Store.write skips the assignSeq window — one less shuffle per write
    // on these per-invocation throwaway stores
    e.store.write(tags, Map.empty,
      (0 until n).map(i => (startTs + i * 1000000000L, s"$prefix$i$padStr", startTs + i))
        .toDF("ts", "msg", "seq"))
  }

  /** TRUNCATE actually deleting (not DRYRUN), incl. the MAXDBSIZE
    * whole-partition path (reference pkg/partition/partition.go:516-560):
    * a phase-1 size cut of one partition, the surviving state, then a
    * MAXDBSIZE wipe, then the empty end state. Each `execute` runs its
    * catalog mutation eagerly, so the four sections are true snapshots. */
  def truncateLive(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    ingest(e, Map("app" -> "old"), 1000000000L, 3)
    ingest(e, Map("app" -> "old"), 50000000000L, 3) // second chunk
    ingest(e, Map("app" -> "mid"), 1000000000L, 4)
    ingest(e, Map("app" -> "new"), 1000000000L, 5)
    def shape(mode: String, df: DataFrame): DataFrame =
      df.select(lit(mode).as("mode"), col("partition"),
        col("before_records").cast("long").as("before_records"),
        col("after_records").cast("long").as("after_records"),
        col("chunks_deleted").cast("long").as("chunks_deleted"),
        col("deleted").cast("long").as("deleted"))
    def post(mode: String): DataFrame =
      e.execute("SHOW PARTITIONS").select(lit(mode).as("mode"), col("partition"),
        col("records").cast("long").as("before_records"),
        col("records").cast("long").as("after_records"),
        lit(0L).as("chunks_deleted"), lit(0L).as("deleted"))
    val cut = shape("cut", e.execute("TRUNCATE {app=old} MAXSIZE 1"))
    val post1 = post("post_cut")
    val wipe = shape("wipe", e.execute("TRUNCATE MAXDBSIZE 1"))
    val post2 = post("post_wipe") // empty: everything was deleted
    val out = cut.unionByName(post1).unionByName(wipe).unionByName(post2)
    discard(e)
    out
  }

  /** DELETE PIPE lifecycle (reference pkg/backend/admin.go:220-228):
    * registrations before and after the delete. */
  def deletePipe(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    ingest(e, Map("app" -> "p"), 1000000000L, 1)
    e.execute("CREATE PIPE d1 FROM {app=p}")
    e.execute("CREATE PIPE d2 FROM {app=p} WHERE msg CONTAINS 'x'")
    def phase(name: String): DataFrame =
      e.execute("SHOW PIPES").select(lit(name).as("phase"), col("pipe"))
    val before = phase("before")
    e.execute("DELETE PIPE d1")
    val after = phase("after")
    e.pipes.stopAll()
    val out = before.unionByName(after)
    discard(e)
    out
  }

  /** SHOW PARTITIONS size-desc ordering as data: the rank survives into the
    * projection so the oracle can pin the ORDER (reference
    * pkg/backend/admin.go:93-131 sorts by size desc), while the physical
    * byte sizes stay out of the row. Partition sizes differ by >5x, so the
    * ranking is stable under any compression. */
  def partitionRanking(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    ingest(e, Map("app" -> "big"), 1000000000L, 50, pad = 400)
    ingest(e, Map("app" -> "mid"), 1000000000L, 20, pad = 150)
    ingest(e, Map("app" -> "small"), 1000000000L, 3)
    val out = e.execute("SHOW PARTITIONS")
      .withColumn("size_rank",
        row_number().over(Window.orderBy(col("size_bytes").desc, col("partition"))))
      .select(col("size_rank").cast("long").as("size_rank"),
        col("partition"), col("records").cast("long").as("records"))
    discard(e)
    out
  }

  /** Forwarder pump through a capture sink, rendered as RFC5424 frames
    * (reference pkg/forwarder/worker.go:65-159 + pkg/syslog/message.go:43-56):
    * frame strings pin the ts/tag/msg rendering, `ord` pins delivery order.
    * The pipe is created and fully drained BEFORE the pump starts, so one
    * bounded forwarder run deterministically sees all three events. */
  def forwarderFrames(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    val events = Seq(
      (1704164645000000000L, "boot ok"),
      (1704164645123456789L, "disk low"),
      (1704164646500000000L, "done")).toDF("ts", "msg")
    e.store.write(Map("app" -> "fw"), Map.empty, events)
    e.execute("CREATE PIPE fwq FROM {app=fw}")
    e.pipes.processAllAvailable()
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = new Forwarder.Sink {
      def onEvents(rows: Seq[org.apache.spark.sql.Row]): Unit =
        collected ++= rows.map(r => Syslog.format(Syslog.FacilityLocal6, Syslog.SeverityInfo,
          r.getAs[Long]("ts"), "h", r.getAs[String]("tags"), r.getAs[String]("msg")))
    }
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    Forwarder.run(e, "fwq", sink,
      waitTimeout = java.time.Duration.ofMillis(300),
      poll = java.time.Duration.ofMillis(50),
      keepRunning = () => rounds.incrementAndGet() <= 3)
    e.pipes.stopAll()
    val out = collected.toSeq.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toDF("ord", "frame")
    discard(e)
    out
  }

  /** Store.compact: chunk count collapses, records and query results
    * survive byte-for-byte (physical sizes stay out of the row). */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    (0 until 4).foreach(i => ingest(e, Map("app" -> "c"), (i + 1) * 10000000000L, 5))
    def snap(mode: String): DataFrame = {
      val es = e.store.catalog.load().filter(_.part == "app=c")
      Seq((mode, es.size.toLong, es.map(_.records).sum)).toDF("mode", "chunks", "records")
    }
    val before = snap("before")
    val newFiles = e.store.compact("app=c").toLong
    val after = snap("after")
    val rows = e.select("SELECT FROM {app=c} LIMIT 1000").count()
    val readBack = Seq(("rows", newFiles, rows)).toDF("mode", "chunks", "records")
    val out = before.unionByName(after).unionByName(readBack)
    discard(e)
    out
  }

  /** Client select/tail loops (reference api/client.go:40-75 Select,
    * api/querier.go:59-63 WaitTimeout long-poll): `page1` is a bounded
    * selectLoop whose LIMIT caps the total, `page2` resumes from the
    * returned continuation token to EOF, and `follow` is a genuine
    * long-poll — queryWait blocks on the post-EOF token until a CONCURRENT
    * ingest lands, then returns exactly the new rows ("tail -f"). */
  def tailFollow(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    ingest(e, Map("app" -> "tf"), 1000000000L, 5)
    val page1 = scala.collection.mutable.ArrayBuffer.empty[String]
    val tok1 = Tail.selectLoop(e, "SELECT FROM {app=tf} LIMIT 3", streamMode = false,
      handler = rows => page1 ++= rows.map(_.getAs[String]("msg")))
    val page2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val tok2 = Tail.selectLoop(e, "SELECT FROM {app=tf} LIMIT 10000", streamMode = false,
      handler = rows => page2 ++= rows.map(_.getAs[String]("msg")), startPos = tok1)
    // the ingest lands only after the long-poll has begun waiting
    import scala.concurrent.ExecutionContext.Implicits.global
    scala.concurrent.Future {
      Thread.sleep(250)
      ingest(e, Map("app" -> "tf"), 50000000000L, 2, prefix = "f")
    }
    val sel = e.parse("SELECT FROM {app=tf} LIMIT 10000") match {
      case s: graft.lql.Ast.Select => s.copy(position = tok2)
      case other => throw new IllegalStateException(other.render)
    }
    val (rows, tok3) = Tail.queryWait(e, sel,
      java.time.Duration.ofSeconds(30), java.time.Duration.ofMillis(100))
    val follow = rows.map(_.getAs[String]("msg")).toSeq
    // stream mode: the until-cancelled client loop — a concurrent ingest
    // lands mid-loop and the handler cancels once both rows arrived
    val streamed = scala.collection.mutable.ArrayBuffer.empty[String]
    scala.concurrent.Future {
      Thread.sleep(250)
      ingest(e, Map("app" -> "tf"), 90000000000L, 2, prefix = "s")
    }
    Tail.selectLoop(e, "SELECT FROM {app=tf} LIMIT 10000", streamMode = true,
      handler = rows => streamed ++= rows.map(_.getAs[String]("msg")),
      waitTimeout = java.time.Duration.ofSeconds(30),
      poll = java.time.Duration.ofMillis(100),
      keepRunning = () => streamed.size < 2,
      startPos = tok3)
    val out = (page1.toSeq.map("page1" -> _) ++ page2.toSeq.map("page2" -> _) ++
      follow.map("follow" -> _) ++ streamed.toSeq.map("stream" -> _))
      .groupBy(_._1).toSeq.flatMap { case (ph, ms) =>
        ms.zipWithIndex.map { case ((_, m), i) => (ph, i.toLong, m) }
      }.toDF("phase", "ord", "msg")
    discard(e)
    out
  }

  /** stdout sink: prints each event's message verbatim, no delimiter
    * (reference pkg/forwarder/sink/stdout.go OnEvent `fmt.Print`), captured
    * through an in-memory PrintStream. */
  def stdoutSink(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    val events = Seq(
      (1704164645000000000L, "boot ok;"),
      (1704164645123456789L, "disk low;"),
      (1704164646500000000L, "done")).toDF("ts", "msg")
    e.store.write(Map("app" -> "so"), Map.empty, events)
    e.execute("CREATE PIPE soq FROM {app=so}")
    e.pipes.processAllAvailable()
    val baos = new java.io.ByteArrayOutputStream()
    val sink = new Forwarder.StdoutSink(new java.io.PrintStream(baos, true, "UTF-8"))
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    Forwarder.run(e, "soq", sink,
      waitTimeout = java.time.Duration.ofMillis(300),
      poll = java.time.Duration.ofMillis(50),
      keepRunning = () => rounds.incrementAndGet() <= 3)
    e.pipes.stopAll()
    val out = Seq(("stdout", baos.toString("UTF-8"))).toDF("sink", "output")
    discard(e)
    out
  }

  /** Syslog sink DELIVERY as data: two forwarder pumps push the same three
    * events through [[Forwarder.SyslogTcpSink]] into a loopback TCP server
    * and [[Forwarder.SyslogUdpSink]] into a loopback datagram socket; the
    * rows are the frames read OFF THE WIRE — newline-delimited on the TCP
    * stream (reference pkg/syslog/syslog.go write), one frame per datagram
    * on UDP (RFC 5426) — gating socket delivery end-to-end the way
    * `lql_sink_stdout` gates console output. Ports are ephemeral;
    * loopback TCP preserves order and loopback UDP from a single sender
    * socket is FIFO, so `ord` is deterministic. */
  def syslogSink(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    val events = Seq(
      (1704164645000000000L, "boot ok"),
      (1704164645123456789L, "disk low"),
      (1704164646500000000L, "done")).toDF("ts", "msg")
    e.store.write(Map("app" -> "sy"), Map.empty, events)
    // two pipes over the same source: each pump owns its destination and
    // position file, so the runs cannot interfere
    e.execute("CREATE PIPE syt FROM {app=sy}")
    e.execute("CREATE PIPE syu FROM {app=sy}")
    e.pipes.processAllAvailable()

    def pump(pipe: String, sink: Forwarder.Sink): Unit = {
      val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
      Forwarder.run(e, pipe, sink,
        waitTimeout = java.time.Duration.ofMillis(300),
        poll = java.time.Duration.ofMillis(50),
        keepRunning = () => rounds.incrementAndGet() <= 3)
    }

    // TCP: a one-connection loopback server collects newline-split frames;
    // the sink's close() ends the stream and the acceptor with it
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    server.setSoTimeout(15000)
    val tcpFrames = scala.collection.mutable.ArrayBuffer.empty[String]
    val acceptor = new Thread(() => {
      try {
        val s = server.accept()
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        var line = br.readLine()
        while (line != null) {
          tcpFrames.synchronized { tcpFrames += line }
          line = br.readLine()
        }
        s.close()
      } catch { case _: Throwable => () }
    })
    acceptor.start()
    pump("syt", new Forwarder.SyslogTcpSink(
      "127.0.0.1", server.getLocalPort, hostname = "h"))
    acceptor.join(15000)
    server.close()

    // UDP: the OS buffers the (three, tiny) datagrams, so receiving after
    // the pump completes is race-free
    val udpSock = new java.net.DatagramSocket(
      0, java.net.InetAddress.getLoopbackAddress)
    udpSock.setSoTimeout(15000)
    pump("syu", new Forwarder.SyslogUdpSink(
      "127.0.0.1", udpSock.getLocalPort, hostname = "h"))
    // a lost datagram (receive-buffer pressure) must surface as a MISSING
    // frame in the oracle diff, not as a SocketTimeoutException that turns
    // the whole gate run into an undiagnosable entry error
    val udpFrames = scala.collection.mutable.ArrayBuffer.empty[String]
    try (0 until 3).foreach { _ =>
      val p = new java.net.DatagramPacket(new Array[Byte](65536), 65536)
      udpSock.receive(p)
      udpFrames += new String(p.getData, 0, p.getLength,
        java.nio.charset.StandardCharsets.UTF_8)
    } catch { case _: java.net.SocketTimeoutException => () }
    udpSock.close()
    e.pipes.stopAll()

    val out = (tcpFrames.synchronized(tcpFrames.toSeq).map("tcp" -> _) ++
      udpFrames.map("udp" -> _))
      .groupBy(_._1).toSeq.flatMap { case (proto, fs) =>
        fs.zipWithIndex.map { case ((_, f), i) => (proto, i.toLong, f) }
      }.toDF("proto", "ord", "frame")
    discard(e)
    out
  }

  /** SHOW PARTITIONS grand totals (reference pkg/backend/admin.go:93-131
    * prints partition count + total size/records regardless of paging):
    * whole-store totals and a tags-filtered subset; record counts only
    * (byte sizes are compression-dependent). */
  def partitionTotals(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    ingest(e, Map("app" -> "big"), 1000000000L, 50)
    ingest(e, Map("app" -> "mid"), 1000000000L, 20)
    ingest(e, Map("app" -> "small", "env" -> "x"), 1000000000L, 3)
    def totals(scope: String, lql: String): (String, Long, Long) = {
      val sp = e.parse(lql) match {
        case s: graft.lql.Ast.ShowPartitions => s
        case other => throw new IllegalStateException(other.render)
      }
      val (cnt, _, recs) = e.showPartitionsTotals(sp.source)
      (scope, cnt, recs)
    }
    val out = Seq(
      totals("all", "SHOW PARTITIONS"),
      totals("subset", "SHOW PARTITIONS {env=x}"),
      // totals ignore paging — same numbers with OFFSET/LIMIT applied
      totals("paged", "SHOW PARTITIONS OFFSET 1 LIMIT 1")
    ).toDF("scope", "partitions", "records")
    discard(e)
    out
  }

  /** Pipe cursor-resume across a stop/start cycle (reference
    * pkg/pipe/worker.go:73-89 save-after-write): data ingested while the
    * pipe is DOWN is picked up on restart, and nothing already piped is
    * reprocessed — 6 then exactly 10, never 16. */
  def pipeResume(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    ingest(e, Map("app" -> "pr"), 1000000000L, 6)
    e.execute("CREATE PIPE rp FROM {app=pr}")
    e.pipes.processAllAvailable()
    e.pipes.stopAll()
    val n1 = e.select("SELECT FROM {logrange.pipe=rp} LIMIT 10000").count()
    ingest(e, Map("app" -> "pr"), 50000000000L, 4, prefix = "w")
    e.pipes.startAll()
    e.pipes.processAllAvailable()
    e.pipes.stopAll()
    val n2 = e.select("SELECT FROM {logrange.pipe=rp} LIMIT 10000").count()
    val out = Seq(("after_first", n1), ("after_restart", n2)).toDF("phase", "records")
    discard(e)
    out
  }

  /** The `graft-store` connector's stream (readStream → AvailableNow →
    * foreachBatch): phase1 drains the initial content, phase2 resumes from
    * the same checkpoint after more ingest and must see ONLY the new rows —
    * the catalog-cursor offset contract observable through the public
    * Structured Streaming API (reference api/client.go:40-75 stream mode).
    */
  def streamSource(spark: SparkSession, dir: String): DataFrame = {
    val e = freshEngine(spark)
    import spark.implicits._
    ingest(e, Map("app" -> "ss"), 1000000000L, 3)
    ingest(e, Map("app" -> "st"), 1000000000L, 2, prefix = "b")
    val cp = s"${e.store.root}/cp"
    def drain(): Seq[(String, String)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val q = spark.readStream.format("graft-store").option("root", e.store.root)
        .load()
        .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= df.select("part", "msg").collect()
              .map(r => (r.getString(0), r.getString(1)))
          }
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      buf.synchronized(buf.toSeq.sorted)
    }
    val p1 = drain()
    ingest(e, Map("app" -> "ss"), 50000000000L, 2, prefix = "n")
    val p2 = drain()
    val out = (p1.map(r => ("phase1", r._1, r._2)) ++ p2.map(r => ("phase2", r._1, r._2)))
      .toDF("phase", "part", "msg")
    discard(e)
    out
  }

  /** Log template mining over the shared (read-only) events store: mask
    * the variable tokens of `msg` (digit runs → `<n>`), count occurrences
    * per (partition, template), keep each partition's top 3.
    *
    * Scale shape: the groupBy's map-side partial aggregation collapses
    * the msg stream to one row per distinct template BEFORE the shuffle
    * (template cardinality, not event cardinality, crosses the wire);
    * the rank<=k filter compiles to WindowGroupLimit, which prunes to k
    * rows per partition on the map side of the second (tiny) exchange.
    * The standard first step of log-pattern analytics (Drain et al.
    * 2017) that the reference leaves to its clients. */
  def templates(spark: SparkSession, dir: String): DataFrame = {
    graft.store.EventStore.engine(spark, dir)
    val df = spark.read.format("graft-store")
      .option("root", graft.store.EventStore.storeRoot(dir)).load()
    val counted = df
      .select(col("part"),
        regexp_replace(col("msg"), "[0-9]+", "<n>").as("template"))
      .groupBy(col("part"), col("template"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("n").desc, col("template").asc)
    counted.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "log_templates" -> (templates _),
    "lql_stream_source" -> (streamSource _),
    "lql_compact" -> (compaction _),
    "lql_truncate_live" -> (truncateLive _),
    "lql_delete_pipe" -> (deletePipe _),
    "lql_show_partitions_rank" -> (partitionRanking _),
    "lql_forwarder" -> (forwarderFrames _),
    "lql_tail_follow" -> (tailFollow _),
    "lql_sink_stdout" -> (stdoutSink _),
    "lql_sink_syslog" -> (syslogSink _),
    "lql_show_partitions_totals" -> (partitionTotals _),
    "lql_pipe_resume" -> (pipeResume _)
  )

  val oracles: Map[String, String] = Map(
    "log_templates" ->
      s"""${graft.store.EventStore.oracleCte},
         |t AS (SELECT tags AS part,
         |        regexp_replace(msg, '[0-9]+', '<n>', 'g') AS template,
         |        count(*) AS n
         |      FROM le GROUP BY 1, 2),
         |r AS (SELECT part, template, n,
         |        row_number() OVER (PARTITION BY part
         |                           ORDER BY n DESC, template) AS rank
         |      FROM t)
         |SELECT part, template, n, rank FROM r WHERE rank <= 3""".stripMargin,
    "lql_stream_source" ->
      """SELECT * FROM (VALUES
        |  ('phase1', 'app=ss', 'm0'), ('phase1', 'app=ss', 'm1'), ('phase1', 'app=ss', 'm2'),
        |  ('phase1', 'app=st', 'b0'), ('phase1', 'app=st', 'b1'),
        |  ('phase2', 'app=ss', 'n0'), ('phase2', 'app=ss', 'n1')
        |) t(phase, part, msg)""".stripMargin,
    "lql_compact" ->
      """SELECT * FROM (VALUES
        |  ('before', 4::BIGINT, 20::BIGINT),
        |  ('after',  1::BIGINT, 20::BIGINT),
        |  ('rows',   1::BIGINT, 20::BIGINT)
        |) t(mode, chunks, records)""".stripMargin,
    "lql_truncate_live" ->
      """SELECT * FROM (VALUES
        |  ('cut',      'app=old', 6::BIGINT, 0::BIGINT, 2::BIGINT, 1::BIGINT),
        |  ('post_cut', 'app=mid', 4::BIGINT, 4::BIGINT, 0::BIGINT, 0::BIGINT),
        |  ('post_cut', 'app=new', 5::BIGINT, 5::BIGINT, 0::BIGINT, 0::BIGINT),
        |  ('wipe',     'app=mid', 4::BIGINT, 0::BIGINT, 1::BIGINT, 1::BIGINT),
        |  ('wipe',     'app=new', 5::BIGINT, 0::BIGINT, 1::BIGINT, 1::BIGINT)
        |) t(mode, partition, before_records, after_records, chunks_deleted, deleted)""".stripMargin,
    "lql_delete_pipe" ->
      """SELECT * FROM (VALUES
        |  ('before', 'd1'), ('before', 'd2'), ('after', 'd2')
        |) t(phase, pipe)""".stripMargin,
    "lql_show_partitions_rank" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 'app=big', 50::BIGINT),
        |  (2::BIGINT, 'app=mid', 20::BIGINT),
        |  (3::BIGINT, 'app=small', 3::BIGINT)
        |) t(size_rank, partition, records)""".stripMargin,
    "lql_forwarder" ->
      """SELECT * FROM (VALUES
        |  (0::BIGINT, '<182>1 2024-01-02T03:04:05Z h logrange.pipe=fwq - - - boot ok'),
        |  (1::BIGINT, '<182>1 2024-01-02T03:04:05.123456Z h logrange.pipe=fwq - - - disk low'),
        |  (2::BIGINT, '<182>1 2024-01-02T03:04:06.5Z h logrange.pipe=fwq - - - done')
        |) t(ord, frame)""".stripMargin,
    "lql_tail_follow" ->
      """SELECT * FROM (VALUES
        |  ('page1', 0::BIGINT, 'm0'), ('page1', 1::BIGINT, 'm1'), ('page1', 2::BIGINT, 'm2'),
        |  ('page2', 0::BIGINT, 'm3'), ('page2', 1::BIGINT, 'm4'),
        |  ('follow', 0::BIGINT, 'f0'), ('follow', 1::BIGINT, 'f1'),
        |  ('stream', 0::BIGINT, 's0'), ('stream', 1::BIGINT, 's1')
        |) t(phase, ord, msg)""".stripMargin,
    "lql_sink_stdout" ->
      "SELECT 'stdout' AS sink, 'boot ok;disk low;done' AS output",
    "lql_sink_syslog" ->
      """SELECT * FROM (VALUES
        |  ('tcp', 0::BIGINT, '<182>1 2024-01-02T03:04:05Z h logrange.pipe=syt - - - boot ok'),
        |  ('tcp', 1::BIGINT, '<182>1 2024-01-02T03:04:05.123456Z h logrange.pipe=syt - - - disk low'),
        |  ('tcp', 2::BIGINT, '<182>1 2024-01-02T03:04:06.5Z h logrange.pipe=syt - - - done'),
        |  ('udp', 0::BIGINT, '<182>1 2024-01-02T03:04:05Z h logrange.pipe=syu - - - boot ok'),
        |  ('udp', 1::BIGINT, '<182>1 2024-01-02T03:04:05.123456Z h logrange.pipe=syu - - - disk low'),
        |  ('udp', 2::BIGINT, '<182>1 2024-01-02T03:04:06.5Z h logrange.pipe=syu - - - done')
        |) t(proto, ord, frame)""".stripMargin,
    "lql_show_partitions_totals" ->
      """SELECT * FROM (VALUES
        |  ('all', 3::BIGINT, 73::BIGINT),
        |  ('subset', 1::BIGINT, 3::BIGINT),
        |  ('paged', 3::BIGINT, 73::BIGINT)
        |) t(scope, partitions, records)""".stripMargin,
    "lql_pipe_resume" ->
      """SELECT * FROM (VALUES
        |  ('after_first', 6::BIGINT), ('after_restart', 10::BIGINT)
        |) t(phase, records)""".stripMargin
  )
}
