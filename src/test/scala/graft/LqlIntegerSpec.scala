package graft

import graft.engine.Engine
import graft.lql.Ast.{LqlException, Select}
import graft.store.Store
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** LQL integers that reach Spark as Ints: OFFSET and SHOW paging reject
  * magnitudes above `Int.MaxValue` instead of wrapping, and
  * a negative SELECT LIMIT is an LQL error, not a Spark one.
  */
class LqlIntegerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val engine: Engine = {
    import spark.implicits._
    val e = new Engine(new Store(spark, Files.createTempDirectory("graft-lqlint").toString))
    e.store.write(Map("app" -> "i"), Map.empty,
      (0 until 5).map(i => (1000000000L * (i + 1), s"m$i")).toDF("ts", "msg"))
    e
  }

  test("SELECT OFFSET beyond the Int range is rejected, not wrapped") {
    // 4294967297 wraps to 1 as an Int: one row skipped, a full page returned
    intercept[LqlException](engine.select("SELECT FROM {app=i} OFFSET 4294967297 LIMIT 10"))
    intercept[LqlException](
      engine.select("SELECT FROM {app=i} POSITION tail OFFSET -4294967297 LIMIT 10"))
    assert(engine.select("SELECT FROM {app=i} OFFSET 1 LIMIT 10").count() == 4)
    assert(engine.select("SELECT FROM {app=i} POSITION tail OFFSET -2 LIMIT 10").count() == 2)
  }

  test("SHOW PARTITIONS and SHOW PIPES paging beyond the Int range is rejected") {
    // 4294967296 wraps to 0 as an Int: the first page, or an empty one
    intercept[LqlException](engine.execute("SHOW PARTITIONS OFFSET 4294967296"))
    intercept[LqlException](engine.execute("SHOW PARTITIONS LIMIT 4294967296"))
    assert(engine.execute("SHOW PARTITIONS OFFSET 0 LIMIT 10").count() == 1)
    intercept[LqlException](engine.execute("SHOW PIPES OFFSET 4294967296"))
    intercept[LqlException](engine.execute("SHOW PIPES LIMIT 4294967296"))
    assert(engine.execute("SHOW PIPES OFFSET 0 LIMIT 10").count() == 0)
  }

  test("a negative SELECT LIMIT is an LqlException; it still parses") {
    assert(engine.parse("SELECT FROM {app=i} LIMIT -1").asInstanceOf[Select].limit.contains(-1L))
    intercept[LqlException](engine.select("SELECT FROM {app=i} LIMIT -1"))
    assert(engine.select("SELECT FROM {app=i} LIMIT 0").count() == 0)
  }
}
