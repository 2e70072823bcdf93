package perfbench

import graft.engine.{Engine, Tail}
import graft.lql.Ast.Select
import graft.sources.{Collector, PathSchema}
import graft.store.Store
import graft.streaming.Forwarder
import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.{Duration, Instant}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_follow`: records arrive open-loop (Poisson, seeded) at a ladder
  * of offered rates; one writer takes whatever has arrived, up to
  * [[MaxBatch]] records, and ingests it as one batch, alternating
  * `Store.write` with lines appended to a log file that `Collector.ingest`
  * picks up. Meanwhile a tail follower, a pipe with its worker and a
  * forwarder read the growing store, and the writer compacts and runs
  * TRUNCATE on a fixed period. Every latency is per record, from its
  * arrival (due) time. */
object IngestFollow {
  /** Offered records per second of the three ladder steps; the top step is
    * above what the store sustains. */
  val LadderRps: Seq[Double] = Seq(20.0, 40.0, 400.0)
  /** Share of the timed phase each step lasts: the middle step gives the
    * reported latencies, the top step the saturated throughput. */
  val StepShare: Seq[Double] = Seq(0.1, 0.6, 0.3)
  val MaxBatch = 100
  /** Latency limit on the follower's visibility tail. */
  val VisibleLimitMs = 3000.0
  /** Untimed batches of set-up, enough for the write, collect, pipe and
    * read paths to be compiled before the timed phase. */
  val WarmBatches = 12
  val WritePartitions = 2
  val LogFiles = 2
  /** Pause of the follower after an empty poll, and of the forwarder
    * between polls of an empty pipe. */
  val IdlePollPauseMs = 200L
  val MaintenanceEveryMs = 3000L
  val DrainTimeoutMs = 15000L
  val From = "app=ing OR app=col"

  /** Start of each ladder step and the end of the last, in ns from the
    * start of the timed phase. */
  def stepBounds(seconds: Int): Seq[Long] =
    StepShare.scanLeft(0.0)(_ + _).map(f => (f * seconds * 1e9).toLong)

  /** Arrival offsets (ns from the start) of every record and its step:
    * exponential gaps at each step's rate, drawn from the seed. */
  def arrivals(seconds: Int, seed: Long): Seq[(Long, Int)] = {
    val rnd = new java.util.SplittableRandom(Gen.mix(seed, 0, 31))
    val bounds = stepBounds(seconds)
    val out = mutable.ArrayBuffer.empty[(Long, Int)]
    LadderRps.indices.foreach { s =>
      var t = bounds(s).toDouble
      while ({ t += -math.log(1 - rnd.nextDouble()) / LadderRps(s) * 1e9; t < bounds(s + 1) })
        out += (t.toLong -> s)
    }
    out.toSeq
  }

  /** True when more than one full batch of records due before `stepEndNs`
    * was still waiting then: the writer fell behind the offered rate. */
  def backlogGrows(due: Seq[Long], taken: Seq[Option[Long]], stepEndNs: Long): Boolean =
    due.zip(taken).count { case (d, t) => d < stepEndNs && t.forall(_ > stepEndNs) } > MaxBatch

  /** Highest offered rate whose step met the visibility limit without a
    * growing backlog, 0 when none did. `steps`: (rate, grows, visible tail). */
  def maxSustained(steps: Seq[(Double, Boolean, Option[Double])], limitMs: Double): Double =
    steps.collect { case (rps, grows, Some(vis)) if !grows && vis <= limitMs => rps }
      .maxOption.getOrElse(0.0)

  /** A read that lost a data or catalog file to a concurrent compaction
    * or TRUNCATE; the engine reports these as transient and a client
    * retries them. */
  def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => true
      case x => Option(x.getMessage).exists(m => Seq("FileNotFound", "NoSuchFile", "does not exist",
        "FAILED_READ_FILE", "PATH_NOT_FOUND").exists(m.contains))
    }

  def forwarded(seed: Long, id: Int): Boolean = Gen.below(Gen.mix(seed, id, 32), 3) == 0

  def message(seed: Long, id: Int): String =
    s"ingest r=$id user=u${Gen.below(Gen.mix(seed, id, 33), 100)}" +
      (if (forwarded(seed, id)) " fwd" else "")

  /** Record id of a generated message (the collector keeps the line's
    * trailing newline), None for anything else. */
  def idOf(m: String): Option[Int] =
    if (!m.startsWith("ingest r=")) None
    else m.trim.split(' ')(1).drop(2).toIntOption

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val trace = ctx.tracer
    val seed = ctx.seed
    import spark.implicits._

    val tb = System.nanoTime()
    val store = new Store(spark, ctx.freshDir("store"))
    val logDir = ctx.freshDir("logs")
    val engine = new Engine(store)
    val schema = PathSchema(".*/(?<name>c[0-9]+)\\.log$", "k8json", Map("app" -> "col", "file" -> "{name}"))
    val glob = s"$logDir/*.log"
    val baseTs = 1700000000000000000L + Gen.below(Gen.mix(seed, 0, 34), 1000000000L) * 1000L

    // per record id: times the follower and the sink returned it, first sight
    val followSeen = new ConcurrentHashMap[Int, AtomicLong]()
    val forwardSeen = new ConcurrentHashMap[Int, AtomicLong]()
    val firstVisible = new ConcurrentHashMap[Int, java.lang.Long]()
    val firstForward = new ConcurrentHashMap[Int, java.lang.Long]()
    val sinkCalls = new AtomicLong(0)
    val sinkRows = new AtomicLong(0)
    // record id → ts, for every acknowledged record
    val ackedTs = new ConcurrentHashMap[Int, java.lang.Long]()

    def note(rows: Seq[Row], seen: ConcurrentHashMap[Int, AtomicLong],
        first: ConcurrentHashMap[Int, java.lang.Long]): Unit = {
      val now = System.nanoTime()
      rows.foreach(row => idOf(row.getAs[String]("msg")).foreach { id =>
        seen.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
        first.putIfAbsent(id, now)
      })
    }

    /** Ingest records (id, ts) as batch number `b`. */
    def ingest(b: Int, recs: Seq[(Int, Long)]): Unit =
      if (b % 2 == 0) {
        val df = recs.map { case (id, ts) => (ts, message(seed, id)) }.toDF("ts", "msg")
        trace.span("store.write")(store.write(
          Map("app" -> "ing", "host" -> s"w${b / 2 % WritePartitions}"), Map("src" -> "api"), df))
      } else {
        val lines = recs.map { case (id, ts) =>
          s"""{"log":"${message(seed, id)}\\n","stream":"stdout","time":"${Instant.ofEpochSecond(0, ts)}"}""" + "\n"
        }
        Files.write(Paths.get(logDir, s"c${b / 2 % LogFiles}.log"), lines.mkString.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        trace.span("sources.collect")(Collector.ingest(store, schema, glob))
      }

    // set-up: the partitions, the pipe and the readers exist and have each
    // handled data before the timed phase starts
    val warmIds = (0 until WarmBatches).map(b => (0 until 10).map(k => (1000000 + 10 * b + k, baseTs - 1000000000L + 10 * b + k)))
    warmIds.zipWithIndex.foreach { case (recs, b) =>
      ingest(b, recs)
      recs.foreach { case (id, ts) => ackedTs.put(id, ts) }
    }
    engine.execute(s"""CREATE PIPE fwd FROM $From WHERE msg CONTAINS "fwd"""").collect()
    val buildS = (System.nanoTime() - tb) / 1e9

    @volatile var running = true
    val polls = new AtomicLong(0)
    val pages = new AtomicLong(0)
    val retries = new AtomicLong(0)
    val errors = new ConcurrentLinkedQueue[String]()
    def guarded(name: String)(f: => Unit): Thread = {
      val t = new Thread(() => try f catch {
        case e: Throwable if running => errors.add(s"$name: $e")
        case _: Throwable => ()
      }, s"perfbench-$name")
      t.setDaemon(true)
      t.start()
      t
    }

    // the follower: a client loop over Tail.queryWait that keeps its own
    // continuation token, so a poll that loses a file to a concurrent
    // compaction is retried from the same position (the pipe worker's rule)
    val follower = guarded("follower") {
      val sel = engine.parse(s"SELECT FROM $From LIMIT 1000").asInstanceOf[Select]
      var tok: Option[String] = None
      while (running) {
        polls.incrementAndGet()
        val got =
          try Some(trace.span("engine.tail_poll")(Tail.queryWait(engine, sel.copy(position = tok))))
          catch { case e: Throwable if missingFile(e) => retries.incrementAndGet(); None }
        got match {
          case Some((rows, next)) if rows.nonEmpty =>
            pages.incrementAndGet()
            note(rows.toSeq, followSeen, firstVisible)
            tok = next.orElse(tok)
          case _ => Thread.sleep(IdlePollPauseMs)
        }
      }
    }
    val sink = new Forwarder.Sink {
      def onEvents(events: Seq[Row]): Unit = {
        sinkCalls.incrementAndGet()
        sinkRows.addAndGet(events.size)
        note(events, forwardSeen, firstForward)
      }
    }
    // Forwarder.run resumes from its saved position, so a run that a lost
    // file ends is restarted, as a supervisor would
    val restarts = new AtomicLong(0)
    val forwarder = guarded("forwarder") {
      while (running)
        try trace.span("streaming.forward")(Forwarder.run(engine, "fwd", sink,
          waitTimeout = Duration.ofMillis(IdlePollPauseMs), poll = Duration.ofMillis(IdlePollPauseMs),
          keepRunning = () => running))
        catch { case e: Throwable if running && missingFile(e) => restarts.incrementAndGet() }
    }

    def owed(id: Int): Boolean =
      !followSeen.containsKey(id) || (forwarded(seed, id) && !forwardSeen.containsKey(id))
    def waitFor(ids: Iterable[Int]): Unit = {
      val deadline = System.nanoTime() + DrainTimeoutMs * 1000000L
      while (ids.exists(owed) && System.nanoTime() < deadline && errors.isEmpty) Thread.sleep(10)
    }
    waitFor(warmIds.flatten.map(_._1))

    // maintenance runs in the writer's loop on a fixed schedule, so its
    // stall lands on the records that arrive meanwhile: compact the
    // partition with the most chunks; every other round TRUNCATE what both
    // readers have passed
    var rounds = 0
    def maintain(): Unit = {
      store.catalog.partSummaries().values.filter(_.part.startsWith("app=")).maxByOption(_.chunks)
        .foreach(w => trace.span("store.compact")(store.compact(w.part)))
      if (rounds % 2 == 1) {
        val owedTs = ackedTs.asScala.collect { case (id, ts) if owed(id) => ts.longValue }
        val safe = owedTs.minOption.getOrElse(ackedTs.values.asScala.map(_.longValue).max) - 1000000000L
        trace.span("store.truncate")(engine.execute(s"TRUNCATE $From BEFORE '$safe'").collect())
      }
      rounds += 1
    }
    maintain()
    maintain()
    ctx.setupDone(buildS, (System.nanoTime() - tb) / 1e9 - buildS)

    // timed phase: the open-loop writer
    val arr = arrivals(ctx.seconds, seed)
    val n = arr.size
    val taken = Array.fill(n)(-1L)
    val acked = Array.fill(n)(-1L)
    val viaCollector = new Array[Boolean](n)
    // (traced, records, service ms, step, batch number) per batch
    val batches = mutable.ArrayBuffer.empty[(Boolean, Int, Double, Int, Int)]
    val genLag = mutable.ArrayBuffer.empty[Double]
    ctx.startTimed()
    val t0 = System.nanoTime()
    val t0Wall = System.currentTimeMillis()
    val endNs = t0 + ctx.seconds * 1000000000L
    val bounds = stepBounds(ctx.seconds)
    def stepAt(offsetNs: Long): Int = bounds.lastIndexWhere(_ <= offsetNs).min(LadderRps.size - 1)
    var next = 0
    var b = 0
    var tracedLines = 0L
    var nextMaint = t0 + MaintenanceEveryMs * 1000000L
    while (next < n && errors.isEmpty && System.nanoTime() < endNs) {
      if (System.nanoTime() >= nextMaint) {
        maintain()
        nextMaint += MaintenanceEveryMs * 1000000L
      }
      val due = t0 + arr(next)._1
      var now = System.nanoTime()
      if (now < due) {
        while (now < due) { Thread.sleep(math.max(1, (due - now) / 1000000)); now = System.nanoTime() }
        genLag += (now - due) / 1e6
      }
      if (now < endNs) {
        var last = next
        while (last < n && last - next < MaxBatch && t0 + arr(last)._1 <= now) last += 1
        val recs = (next until last).map(i => (i, baseTs + arr(i)._1))
        (next until last).foreach { i => taken(i) = now; viaCollector(i) = b % 2 == 1 }
        val on = ctx.traced && b % 4 < 2
        if (on && b % 2 == 1) tracedLines += recs.size
        trace.sample(on)(trace.span("op")(ingest(b, recs)))
        val done = System.nanoTime()
        recs.foreach { case (i, ts) => acked(i) = done; ackedTs.put(i, ts) }
        batches += ((on, recs.size, (done - now) / 1e6, stepAt(now - t0), b))
        ctx.opEnd()
        next = last
        b += 1
      }
    }
    ctx.endTimed()
    val ackedIds = (0 until n).filter(acked(_) >= 0)
    waitFor(ackedIds)
    val pipeBatches = engine.pipes.worker("fwd").map(_.batches).getOrElse(0)
    val pipeFiles = engine.pipes.worker("fwd").map(_.filesConsumed).getOrElse(0L)
    running = false
    Seq(follower, forwarder).foreach(_.join(30000))
    engine.pipes.stopAll()
    errors.asScala.foreach(e => r.fail(s"background thread failed: $e"))

    // exactly once at the follower, at least once at the forwarder
    val ids = ackedIds ++ warmIds.flatten.map(_._1)
    ids.foreach { id =>
      val f = Option(followSeen.get(id)).map(_.get).getOrElse(0L)
      r.check(f == 1, s"record $id reached the follower $f times, expected once")
      if (forwarded(seed, id))
        r.check(forwardSeen.containsKey(id), s"record $id never reached the forwarder sink")
    }
    val known = ids.toSet
    (followSeen.keySet().asScala ++ forwardSeen.keySet().asScala).filterNot(known)
      .foreach(id => r.fail(s"record $id was returned but never acknowledged"))
    r.put("records_abandoned", (n - ackedIds.size).toDouble, "count", "due after the writer's last batch")
    r.put("follower_retries", retries.get.toDouble, "count", "polls that lost a file to maintenance")
    r.put("forwarder_restarts", restarts.get.toDouble, "count", "forwarder runs that lost a file to maintenance")
    r.put("forward_duplicates", forwardSeen.values().asScala.map(_.get - 1).sum.toDouble, "count")

    // per ladder step
    def since(i: Int, at: Long): Double = (at - (t0 + arr(i)._1)) / 1e6
    def seen(i: Int, m: ConcurrentHashMap[Int, java.lang.Long]): Option[Double] =
      Option(m.get(i)).map(t => since(i, t.longValue))
    val steps = LadderRps.indices.map { s =>
      val all = (0 until n).filter(arr(_)._2 == s)
      val in = all.filter(acked(_) >= 0)
      val vis = in.flatMap(seen(_, firstVisible))
      val grows = backlogGrows(all.map(arr(_)._1), all.map(i => Some(taken(i)).filter(_ >= 0).map(_ - t0)),
        bounds(s + 1))
      r.put(s"step$s.offered_rps", LadderRps(s), "records/s")
      r.timing(s"step$s.write", in.map(i => since(i, acked(i))))
      r.timing(s"step$s.visible", vis)
      r.put(s"step$s.backlog_grows", if (grows) 1 else 0, "bool")
      (LadderRps(s), grows, if (vis.isEmpty) None else Some(Stats.tail(vis).map(_._2).getOrElse(Stats.median(vis))))
    }
    val mid = ackedIds.filter(arr(_)._2 == 1)
    val midVis = mid.flatMap(seen(_, firstVisible))
    r.timing("write", mid.map(i => since(i, acked(i))))
    r.timing("visible", midVis)
    r.timing("forward", mid.filter(forwarded(seed, _)).flatMap(seen(_, firstForward)))
    r.put("ingest_max_rps", maxSustained(steps, VisibleLimitMs), "records/s",
      s"visibility limit ${VisibleLimitMs.toInt} ms on the highest supported tail, backlog limit $MaxBatch records")
    // saturated throughput: records per second of write service of the
    // median full batch started while the top rate was offered
    val top = batches.filter(b => b._4 == 2 && b._2 == MaxBatch).map(_._3).toSeq
    val topRate = if (top.isEmpty) 0.0 else MaxBatch / (Stats.median(top) / 1e3)
    r.put("top_step_acked_rps", topRate, "records/s", s"full batches of the top step, n=${top.size}")
    // The two ingest paths cost differently and alternate, so a pooled
    // median would jump between their modes from run to run: each path is
    // summarised on its own and the two weigh equally.
    def bothPaths(name: String, unit: String, of: Boolean => Seq[Double]): Double = {
      val m = Seq(false, true).flatMap { c =>
        val xs = of(c)
        val path = if (c) "collector" else "write"
        if (xs.nonEmpty) r.put(s"$name.$path", Stats.median(xs), unit, s"p50, n=${xs.size}")
        if (xs.isEmpty) None else Some(Stats.median(xs))
      }
      m.sum / m.size
    }
    // the write path's commit rate: batches per second of write service
    val commits = 1e3 / bothPaths("batch_service_p50_ms", "ms",
      c => batches.filter(x => (x._5 % 2 == 1) == c).map(_._3).toSeq)
    r.put("commits_per_s", commits, "1/s", "1 / the mean of the two paths' median batch write times")
    val midLatency = bothPaths("visible_p50_ms", "ms", c => mid.filter(viaCollector(_) == c).flatMap(seen(_, firstVisible)))
    r.put("latency_p50_ms", midLatency, "ms", "visible_p50_ms at the middle step, mean of the two paths")
    r.put("ops_per_s", commits, "1/s", "commits_per_s")
    ctx.storeFootprint(store,
      store.catalog.partSummaries().values.filter(_.part.startsWith("app=")).map(_.records).sum)

    if (ctx.traced) {
      ctx.overhead(batches.collect { case (false, _, ms, _, _) => ms }.toSeq,
        batches.collect { case (true, _, ms, _, _) => ms }.toSeq)
      val ops = ctx.timedOps("op")
      val opIds = ops.map(_.op).toSet
      val writes = trace.all.filter(s => s.name == "store.write" && opIds(s.op))
      if (writes.nonEmpty) {
        val jobMs = ctx.jobMs(writes)
        r.put("store.write_ms", Stats.median(writes.map(_.durNs / 1e6)), "ms", s"n=${writes.size}")
        r.put("store.write_job_ms", Stats.median(jobMs), "ms", s"n=${writes.size}")
        r.put("store.write_commit_ms", Stats.median(writes.zip(jobMs).map { case (s, j) => s.durNs / 1e6 - j }),
          "ms", s"n=${writes.size}")
        ctx.jobsPer(ops, "store.write", "store.write_jobs")
      }
      val collects = trace.all.filter(s => s.name == "sources.collect" && opIds(s.op))
      if (collects.nonEmpty) {
        r.put("sources.collector_ms", Stats.median(collects.map(_.durNs / 1e6)), "ms", s"n=${collects.size}")
        r.put("sources.collector_lines_per_s", tracedLines / (collects.map(_.durNs).sum / 1e9), "1/s",
          s"$tracedLines lines in ${collects.size} traced collector calls")
      }
      Seq("store.compact" -> "store.compact_ms", "store.truncate" -> "store.truncate_ms").foreach { case (s, m) =>
        val ss = trace.all.filter(x => x.name == s && x.start >= t0)
        if (ss.nonEmpty) r.put(m, Stats.median(ss.map(_.durNs / 1e6)), "ms", s"n=${ss.size}")
      }
      val tailPolls = trace.all.filter(s => s.name == "engine.tail_poll" && s.start >= t0)
      if (tailPolls.nonEmpty)
        r.put("engine.tail_poll_ms", Stats.median(tailPolls.map(_.durNs / 1e6)), "ms", s"n=${tailPolls.size}")
      ctx.listener.foreach { l =>
        val free = l.jobList.filter(j => j.span < 0 && j.start >= t0Wall)
        r.put("streaming.pipe_job_ms", free.map(_.durMs).sum / math.max(1, pipeBatches), "ms",
          s"${free.size} jobs outside benchmark spans, per pipe batch")
      }
      r.put("streaming.pipe_batches", pipeBatches.toDouble, "count", "whole run")
      r.put("streaming.pipe_files_per_batch", pipeFiles.toDouble / math.max(1, pipeBatches), "count")
      r.put("streaming.forward_batch_rows", sinkRows.get.toDouble / math.max(1, sinkCalls.get), "count",
        s"${sinkCalls.get} sink calls")
      r.put("streaming.tail_empty_poll_share", 1.0 - pages.get.toDouble / math.max(1, polls.get), "ratio",
        s"${polls.get} polls")
      if (genLag.nonEmpty)
        r.put("bench.gen_lag_p95_ms", Stats.percentile(genLag.toSeq, 95), "ms", s"n=${genLag.size}")
      ctx.sparkPerOp(ops)
      ctx.storeLayer(store)
    }
  }
}
