package graft

import graft.engine.Engine
import graft.sources.{Collector, GraftOffset}
import graft.store.{CatEntry, Catalog, FileInFlightRegistry, StateFile, Store}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The one state-file codec ([[StateFile]]): escape round trips, the
  * keyed field scanner, the crash-safe rewrite, byte-for-byte stability
  * of every record kind the store writes with it, and decoding of lines
  * in the older formats still on disk. */
class StateFileSpec extends AnyFunSuite {

  private def localFs = new Path("/tmp").getFileSystem(new Configuration())
  private def tmpDir(prefix: String): File = Files.createTempDirectory(prefix).toFile
  private def bytes(f: File): String =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  // strings built from the characters and fragments a state record must
  // survive: quotes, backslashes, newlines, control characters, non-ASCII
  // and the separators of the JSON framing itself
  private val nasty: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.const("\""), Gen.const("\\"), Gen.const("\n"), Gen.const("},{"),
    Gen.const("\":"), Gen.const("\\u"), Gen.const("é中"),
    Gen.choose(0.toChar, 31.toChar).map(_.toString),
    Gen.alphaNumChar.map(_.toString))).map(_.mkString)

  test("property: unesc(esc(s)) == s, and str/num recover every field of a record") {
    val prop = Prop.forAllNoShrink(nasty, nasty, Gen.long, Gen.long) { (a, b, n, m) =>
      val ea = StateFile.esc(a)
      val line = s"""{"a":"$ea","n":$n,"b":"${StateFile.esc(b)}","m":$m}"""
      StateFile.unesc(ea, 0, ea.length) == a && !line.contains('\n') &&
        StateFile.str(line, "a") == a && StateFile.str(line, "b") == b &&
        StateFile.num(line, "n", 0L) == n && StateFile.num(line, "m", 0L) == m &&
        StateFile.num(line, "absent", 7L) == 7L
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  // --- golden lines: the bytes every parent-format writer produced --------

  private val part = "app=\"x,\\\"y\\\\\",env=p\nq" // quotes, backslash, newline
  private val partJson = "app=\\\"x,\\\\\\\"y\\\\\\\\\\\",env=p\\nq"

  test("golden: catalog entry and part summary lines are unchanged") {
    val dir = tmpDir("graft-sf-cat")
    val cat = Catalog.fresh(new Configuration(), dir.getAbsolutePath)
    val e = CatEntry(part, "/d/f \"1\".parquet", records = 10, sizeBytes = 100,
      minTs = -5, maxTs = 7, writeTs = 123, maxSeq = 42)
    cat.append(Seq(e))
    val seg = new File(dir, "catalog.jsonl.d").listFiles().filter(_.getName.endsWith(".jsonl"))
    assert(seg.map(bytes).toSeq == Seq(
      s"""{"part":"$partJson","file":"/d/f \\"1\\".parquet","records":10,""" +
        """"sizeBytes":100,"minTs":-5,"maxTs":7,"writeTs":123,"maxSeq":42}""" + "\n"))
    cat.save(Seq(e))
    val sums = new File(dir, "catalog.jsonl.shards").listFiles().filter(_.getName.endsWith(".sum"))
    assert(sums.map(bytes).toSeq == Seq(
      s"""{"part":"$partJson","chunks":1,"sizeBytes":100,"records":10,"maxSeq":42,""" +
        """"maxWriteTs":123,"minMaxSeq":42}""" + "\n"))
    assert(Catalog.fresh(new Configuration(), dir.getAbsolutePath).load() == Vector(e))
  }

  test("golden: offset JSON and lease payload are unchanged") {
    assert(GraftOffset(Map(part -> 5L, "b=1" -> -1L)).json() ==
      s"""[{"part":"$partJson","seq":5},{"part":"b=1","seq":-1}]""")
    val dir = tmpDir("graft-sf-ifl")
    val reg = new FileInFlightRegistry(localFs, new Path(dir.getAbsolutePath))
    val lease = reg.preBegin(Some(Set(part, "b=1"))).asInstanceOf[Path]
    assert(bytes(new File(lease.toUri.getPath)) == s"$partJson\nb=1\n") // sorted raw parts
    assert(reg.entries().flatMap(_.parts) == Seq(Set(part, "b=1")))
  }

  test("golden: pipes.jsonl and pipe cursor lines are unchanged") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmpDir("graft-sf-pipe")
    val e = new Engine(new Store(spark, root.getAbsolutePath))
    val tags = Map("app" -> "x,\"y\\", "env" -> "p")
    e.store.write(tags, Map.empty, Seq((1000000000L, "say \"hi\"")).toDF("ts", "msg"))
    e.execute("""CREATE PIPE gold FROM {app="x,\"y\\"} WHERE msg CONTAINS "\"hi\"" """)
    e.pipes.processAllAvailable()
    e.pipes.stopAll()
    assert(bytes(new File(root, "pipes.jsonl")) ==
      """{"name":"gold","from":"{app=\"x,\\\"y\\\\\"}","where":"msg CONTAINS \"\\\"hi\\\"\""}""" + "\n")
    val seq = e.store.catalog.load().filter(_.part == graft.model.Model.tagLine(tags)).map(_.maxSeq).max
    assert(bytes(new File(root, "pipes/gold/cursors.jsonl")) ==
      s"""{"part":"app=\\"x,\\\\\\"y\\\\\\\\\\",env=p","seq":$seq}""" + "\n")
    assert(e.select("SELECT FROM {logrange.pipe=gold} LIMIT 10").collect().length == 1)
  }

  // --- lines in older formats still decode ---------------------------------

  test("parent formats: collector line with escaped quote and backslash decodes") {
    val dir = tmpDir("graft-sf-col")
    val f = new File(dir, "collector/k.pos.jsonl")
    // the old writer's form: `"`, `\` and control characters as \u00XX
    write(f, "{\"file\":\"/logs/a\\u0022b\\u005cc\\u000ad.log\",\"off\":12,\"ts\":-3," +
      "\"pfxlen\":64,\"pfx\":-123}\n")
    assert(Collector.loadPositions(localFs, new Path(f.getAbsolutePath)) ==
      Map("/logs/a\"b\\c\nd.log" -> Collector.PosEntry(12, -3, 64, -123)))
  }

  test("parent formats: catalog line without maxSeq and sidecar without minMaxSeq decode") {
    val dir = tmpDir("graft-sf-legacy")
    val p = "a=\"q\\\"\""
    val shard = f"catalog.jsonl.shards/shard-${Catalog.shardOf(p)}%03d"
    // keys out of the writer's order: the keyed scanner reads them
    write(new File(dir, shard + ".jsonl"),
      """{"file":"/f1","part":"a=\"q\\\"\"","records":3,"sizeBytes":30,"minTs":1,"maxTs":2,"writeTs":9}""" + "\n")
    write(new File(dir, shard + ".sum"),
      """{"part":"a=\"q\\\"\"","chunks":1,"sizeBytes":30,"records":3,"maxSeq":-1,"maxWriteTs":9}""" + "\n")
    val cat = Catalog.fresh(new Configuration(), dir.getAbsolutePath)
    assert(cat.load() == Vector(CatEntry(p, "/f1", 3, 30, 1, 2, 9, -1L)))
    assert(cat.partSummaries()(p).minMaxSeq == Long.MinValue, "absent minMaxSeq = unknown")
    assert(cat.partSummaries()(p).records == 3)
  }

  test("parent formats: the offset JSON of GraftSourceSpec decodes") {
    assert(GraftOffset.fromJson("""[{"part":"a=1,b=\"x,=y\"","seq":123},{"part":"plain=v","seq":-1}]""") ==
      GraftOffset(Map("a=1,b=\"x,=y\"" -> 123L, "plain=v" -> -1L)))
  }

  // --- crash-safe rewrite ----------------------------------------------------

  test("replace leaves no .tmp or .bak; read falls back to .bak when the base is missing") {
    val dir = tmpDir("graft-sf-rw")
    val p = new Path(dir.getAbsolutePath, "sub/state.jsonl")
    assert(StateFile.read(localFs, p).isEmpty)
    StateFile.replace(localFs, p, Seq("one", "two"))
    StateFile.replace(localFs, p, Seq("three"))
    assert(StateFile.read(localFs, p) == Vector("three"))
    val names = new File(dir, "sub").list().filterNot(_.endsWith(".crc")).toSet
    assert(names == Set("state.jsonl"))
    // the crash window between moving the base aside and moving the tmp in
    localFs.rename(p, new Path(dir.getAbsolutePath, "sub/state.jsonl.bak"))
    assert(StateFile.read(localFs, p) == Vector("three"))
    StateFile.replace(localFs, p, Nil)
    assert(StateFile.read(localFs, p).isEmpty)
    assert(new File(dir, "sub").list().filterNot(_.endsWith(".crc")).toSet == Set("state.jsonl"))
  }
}
