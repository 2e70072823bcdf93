package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one operation share `op`;
  * `parent` is -1 for the operation's root span. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long) {
  def durNs: Long = end - start
  def json(selfNs: Long): String =
    s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start_ns":$start,"end_ns":$end,"self_ns":$selfNs}"""
}

object Span {

  /** Self time of a span: its duration minus the part of it that its
    * children cover. Children may overlap each other (concurrent calls) or
    * reach past the parent; only their union inside the parent counts. */
  def selfNs(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (pe - ps) - covered
  }

  /** Self time of every span in `spans`, by span id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> selfNs((s.start, s.end), kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }
}

/** Records spans around the benchmark's calls into each layer. Spark jobs
  * submitted inside a span carry its id as a local property, which
  * [[JobListener]] reads back to attribute jobs, stages and tasks to it.
  *
  * With `enabled` false (untraced runs) a span only runs its body. Within a
  * traced run, [[sample]] switches tracing off for single operations so
  * the run can measure its own overhead. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  // (span id, op id) of the open spans of this thread, innermost first
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }
  private val off = new ThreadLocal[Boolean] { override def initialValue() = false }

  def active: Boolean = enabled && !off.get()

  /** Run `f` with tracing switched off on this thread when `traced` is false. */
  def sample[T](traced: Boolean)(f: => T): T = {
    val prev = off.get()
    off.set(!traced)
    try f finally off.set(prev)
  }

  /** A span under the thread's open span, or a new operation's root. */
  def span[T](name: String)(f: => T): T = {
    if (!active) return f
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, op) = outer.headOption.getOrElse((-1L, id))
    stack.set((id, op) :: outer)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      sc.setLocalProperty(Tracer.SpanProp, outer.headOption.map(_._1.toString).orNull)
      spans.synchronized(spans += Span(id, parent, op, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark job/stage/task accounting, attributed to benchmark spans through
  * the [[Tracer.SpanProp]] local property (jobs without it belong to no
  * span: pipe workers, forwarders and other engine-owned threads). */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Long, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
    def durMs: Double = if (end < 0) 0.0 else (end - start).toDouble
  }
  final class StageAcc {
    var tasks = 0
    var taskMs = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageAcc]()
  @volatile private var sentinelSeen = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val sentinel = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.SentinelProp)))
    sentinel match {
      case Some(_) => ()
      case None =>
        jobs.put(e.jobId, new Job(e.jobId, span, e.time, e.stageIds))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)) match {
      case Some(j) => j.end = e.time
      case None => sentinelSeen = math.max(sentinelSeen, e.jobId.toLong)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageJob.containsKey(e.stageId) || e.taskInfo == null) return
    val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
    acc.synchronized {
      acc.tasks += 1
      acc.taskMs += e.taskInfo.duration
      acc.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * the listener bus is FIFO, so seeing a marker job end suffices. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(JobListener.SentinelProp, "1")
    val before = sentinelSeen
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobListener.SentinelProp, null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sentinelSeen == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobList: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)

  def stageOf(job: Job): Seq[StageAcc] = job.stages.flatMap(s => Option(stages.get(s)))
}

object JobListener {
  val SentinelProp = "perfbench.sentinel"
}
