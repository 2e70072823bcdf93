package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for all Spark-backed specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val BodyProp = "graft.test.body"
  private val SentinelProp = "graft.test.sentinel"

  /** What a body ran on its thread: its Spark jobs, the tasks of their
    * stages, and the physical plan of each SQL execution those jobs belong
    * to (every version Spark reported, initial and adaptive). */
  final case class Fired(jobs: Int, tasks: Int, plans: Seq[String])

  /** Spark jobs started while `body` runs on this thread. */
  def jobsFiredBy(body: => Any): Int = fired(body).jobs

  /** [[Fired]] by `body`. Its jobs carry a local property; a sentinel job
    * afterwards drains the listener bus, which delivers events in order. */
  def fired(body: => Any): Fired = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val execIds = ConcurrentHashMap.newKeySet[Long]()
    val plans = new ConcurrentHashMap[Long, Vector[String]]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(BodyProp) != null) {
            jobs.incrementAndGet()
            tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
            Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)).foreach(id => execIds.add(id.toLong))
          }
          if (p.getProperty(SentinelProp) != null) drained.countDown()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.merge(s.executionId, Vector(s.physicalPlanDescription), _ ++ _)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.merge(u.executionId, Vector(u.physicalPlanDescription), _ ++ _)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(BodyProp, "1")
      try body finally sc.setLocalProperty(BodyProp, null)
      sc.setLocalProperty(SentinelProp, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SentinelProp, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Fired(jobs.get, tasks.get,
        execIds.asScala.toSeq.sorted.flatMap(id => Option(plans.get(id)).getOrElse(Vector.empty)))
    } finally sc.removeSparkListener(listener)
  }
}
