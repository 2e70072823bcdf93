package perfbench

import graft.engine.Engine
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The expectations against the engine: on a tiny store every `lql_read`
  * statement class passes and a page that differs from the model fails;
  * every `batch_curate` entry has rows on the generated tables. */
class EngineExpectationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val root = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile

  override def beforeAll(): Unit =
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(root, "wh").getPath)
      .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(root)
  }

  test("every statement class matches the model, across ties, offsets and tokens") {
    val model = new LqlModel(3, 6000)
    val engine = new Engine(LqlRead.build(spark, model, new java.io.File(root, "s1").getPath, 20))
    val client = new Client(engine, new Tracer(spark.sparkContext, enabled = false))
    val stmts = new Statements(model, 3)
    val report = new Report("spec", traced = false)
    (0 until 3 * Statements.Classes).foreach { i =>
      val s = stmts(i)
      stmts.check(s, client.exec(s), report)
    }
    assert(report.failed == 0)

    // one row missing from a page, or two rows swapped, is a failure
    val head = stmts(0)
    val rows = client.exec(head).rows
    assert(rows.size > 2)
    val bad = new Report("spec", traced = false)
    stmts.check(head, LqlRead.Result(rows.tail, None), bad)
    stmts.check(head, LqlRead.Result(rows(1) +: rows(0) +: rows.drop(2), None), bad)
    assert(bad.failed == 2)
  }

  test("every batch_curate entry returns rows on the generated tables") {
    val dir = new java.io.File(root, "curate").getPath
    CurateData.write(spark, CurateData.tables(CurateData.BaseSeed), dir, None)
    val all = graft.SparkEntry.queries
    val expected = Report.CurateEntries.map(n => n -> BatchCurate.hash(all(n)(spark, dir))).toMap
    assert(BatchCurate.empty(expected).isEmpty, expected)
    assert(BatchCurate.empty(expected + ("none" -> (0L, 0L))) == Seq("none"))
  }
}
