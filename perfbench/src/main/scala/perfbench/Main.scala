package perfbench

import graft.store.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Seeded pure functions: every generated input is a function of
  * (seed, id, salt), so the same seed gives the same inputs regardless of
  * partitioning or thread timing. */
object Gen {
  /** splitmix64 finaliser over (seed, id, salt). */
  def mix(seed: Long, id: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A value in [0, n) from hash `h`. */
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)
}

/** What a workload needs from the run: the session, its seed and time
  * budget, the report, and the tracing state. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, workDir: String, traceDir: String) {
  val report = new Report(workload, traced)
  val listener: Option[JobListener] =
    if (traced) Some(new JobListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  val tracer = new Tracer(spark.sparkContext, traced)

  private val sessionS = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  private var timedFrom = 0L
  private var gcFrom = 0L
  private var gcMs = 0L
  private var cachedPeak = 0.0
  private var dirs = 0

  def freshDir(name: String): String = {
    dirs += 1
    val d = new java.io.File(workDir, s"$dirs-$name")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** setup_s = JVM and session start + input build + warm-up. */
  def setupDone(buildS: Double, warmupS: Double): Unit = {
    report.put("setup.session_s", sessionS, "s")
    report.put("setup.build_s", buildS, "s")
    report.put("setup.warmup_s", warmupS, "s")
    report.put("setup_s", sessionS + buildS + warmupS, "s")
  }

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def startTimed(): Unit = { timedFrom = System.nanoTime(); gcFrom = gcTotal }

  def endTimed(): Unit = {
    gcMs = gcTotal - gcFrom
    listener.foreach(_.drain(spark.sparkContext))
  }

  /** Per-operation hook of the timed phase (traced runs sample memory). */
  def opEnd(): Unit =
    if (traced) cachedPeak = math.max(cachedPeak,
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)

  def overhead(untracedMs: Seq[Double], tracedMs: Seq[Double]): Unit =
    if (untracedMs.nonEmpty && tracedMs.nonEmpty) {
      val u = Stats.median(untracedMs)
      report.put("bench.trace_overhead_pct", (Stats.median(tracedMs) - u) / u * 100, "%",
        s"traced vs untraced p50 in one run, n=${tracedMs.size}+${untracedMs.size}")
    }

  /** Root spans named `name` that began in the timed phase. */
  def timedOps(name: String): Seq[Span] =
    tracer.all.filter(s => s.name == name && s.parent < 0 && s.start >= timedFrom)

  private def within(ops: Seq[Span], name: String): Seq[Span] = {
    val ids = ops.map(_.op).toSet
    tracer.all.filter(s => s.name == name && ids(s.op))
  }

  def spanP50(ops: Seq[Span], name: String, metric: String): Unit = {
    val ss = within(ops, name)
    if (ss.nonEmpty)
      report.put(metric, Stats.median(ss.map(_.durNs / 1e6)), "ms", s"p50 of $name, n=${ss.size}")
  }

  /** Spark jobs started inside spans named `name`, per such span. */
  def jobsPer(ops: Seq[Span], name: String, metric: String): Unit = listener.foreach { l =>
    val ss = within(ops, name)
    if (ss.nonEmpty) {
      val ids = ss.map(_.id).toSet
      report.put(metric, l.jobList.count(j => ids(j.span)).toDouble / ss.size, "count",
        s"per $name, n=${ss.size}")
    }
  }

  /** Job time started inside each span named `name` (ms per span). */
  def jobMs(spans: Seq[Span]): Seq[Double] = listener.map { l =>
    val bySpan = l.jobList.groupBy(_.span)
    spans.map(s => bySpan.getOrElse(s.id, Nil).map(_.durMs).sum)
  }.getOrElse(Nil)

  /** Spark work of the jobs attributed to `ops`, per operation. */
  def sparkPerOp(ops: Seq[Span]): Unit = listener.foreach { l =>
    val n = math.max(ops.size, 1).toDouble
    val opIds = ops.map(_.op).toSet
    val spanIds = tracer.all.filter(s => opIds(s.op)).map(_.id).toSet
    val js = l.jobList.filter(j => spanIds(j.span))
    val st = js.flatMap(l.stageOf)
    val note = s"per operation, n=${ops.size}"
    report.put("spark.jobs", js.size / n, "count", note)
    report.put("spark.stages", st.size / n, "count", note)
    report.put("spark.tasks", st.map(_.tasks).sum / n, "count", note)
    report.put("spark.task_overhead_ms", st.map(s => s.taskMs - s.runMs).sum / n, "ms", note)
    report.put("spark.shuffle_read_mb", st.map(_.shuffleRead).sum / 1e6 / n, "MB", note)
    report.put("spark.shuffle_write_mb", st.map(_.shuffleWrite).sum / 1e6 / n, "MB", note)
    report.put("spark.spill_mb", st.map(_.spill).sum / 1e6 / n, "MB", note)
    val skews = st.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.map(_.toDouble).toSeq
      val m = Stats.median(d)
      if (m > 0) d.max / m else 1.0
    }
    report.put("spark.stage_skew", if (skews.isEmpty) 1.0 else skews.max, "ratio",
      s"worst max/median task time over ${skews.size} stages")
    report.put("spark.cached_peak_mb", cachedPeak, "MB")
    report.put("spark.gc_ms", gcMs / n, "ms", note)
  }

  /** Bytes on disk per live record: data files plus catalog files. */
  def storeFootprint(store: Store, liveRecords: Long): Unit = {
    val fs = new Path(store.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new Path(store.root, "data")).getLength + catalogBytes(store)
    report.put("store_bytes_per_record", bytes.toDouble / math.max(liveRecords, 1), "B",
      s"$liveRecords live records")
  }

  private def catalogFiles(store: Store) = {
    val fs = new Path(store.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(store.root)).filter(_.getPath.getName.startsWith("catalog.jsonl"))
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
  }

  private def catalogBytes(store: Store): Long = catalogFiles(store).map(_.getLen).sum

  def storeLayer(store: Store): Unit = {
    val fs = new Path(store.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = new Path(store.root, "catalog.jsonl.d")
    report.put("store.files", store.catalog.load().size.toDouble, "count", "catalog entries at the end")
    report.put("store.catalog_segments",
      (if (fs.exists(seg)) fs.listStatus(seg).length else 0).toDouble, "count", "un-compacted segments")
    report.put("store.catalog_bytes", catalogBytes(store).toDouble, "B")
  }

  /** Writes the spans of a traced run with their self times (one JSON
    * object per line). */
  def writeSpans(): Unit = if (traced) {
    val f = new java.io.File(traceDir, s"$workload-seed$seed.spans.jsonl")
    f.getParentFile.mkdirs()
    val spans = tracer.all
    val self = Span.selfTimes(spans)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(s.json(self(s.id)))) finally w.close()
    println(s"spans written to ${f.getPath}")
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "lql_read" -> LqlRead.run,
    "ingest_follow" -> IngestFollow.run,
    "batch_curate" -> BatchCurate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = need("seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be positive"))
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = need("workdir")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, workload, seed, seconds, traced, s"$work/data", need("tracedir"))
    val code =
      try {
        body(ctx)
        ctx.writeSpans()
        ctx.report.finish()
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.report.fail(s"run aborted: $e")
          ctx.report.finish()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: perfbench.Main --workload <${Workloads.keys.toSeq.sorted.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --workdir <dir> --tracedir <dir>")
    sys.exit(2)
  }
}
