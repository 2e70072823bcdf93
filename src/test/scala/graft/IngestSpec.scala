package graft

import graft.sources.{Collector, Ingest, PathSchema}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant

/** Ingest parser behaviour on synthesized fixtures (reference
  * pkg/scanner/parser test patterns): k8json envelope, logfmt field
  * extraction quirks, text date detection with carry-forward, path-schema
  * tag derivation.
  */
class IngestSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lines(ls: String*) =
    ls.toDF("value").withColumn("file", lit("/f.log"))

  test("k8json: envelope parse, ns fidelity, stream field") {
    val out = Ingest.k8json(lines(
      """{"log":"hello","stream":"stdout","time":"2024-01-02T03:04:05.123456789Z"}""",
      """{"log":"x","stream":"stderr","time":"2024-01-02T03:04:06Z"}""",
      """not json at all"""))
      .select("ts", "msg", "fields").collect()
    assert(out.length == 2) // malformed line dropped
    assert(out(0).getLong(0) == 1704164645123456789L) // full nanos kept
    assert(out(0).getString(1) == "hello")
    assert(out(0).getMap[String, String](2) == Map("stream" -> "stdout"))
  }

  test("logfmt: kept keys, quoted values, duplicate keys last-wins, time override") {
    val out = Ingest.logfmt(lines(
      """{"log":"level=info msg=\"a b=c\" level=warn time=2024-06-07T08:09:10.5Z rest","stream":"stdout","time":"2024-01-02T03:04:05Z"}"""),
      keep = Seq("level", "msg", "time"))
      .select("ts", "fields").collect()
    assert(out.length == 1)
    val fields = out(0).getMap[String, String](1)
    assert(fields("level") == "warn")      // duplicate key: last wins
    assert(fields("msg") == "a b=c")       // quoted value unquoted
    assert(fields("stream") == "stdout")
    // time=... overrides the envelope timestamp
    assert(out(0).getLong(0) == Instant.parse("2024-06-07T08:09:10.5Z").getEpochSecond * 1000000000L + 500000000L)
  }

  test("logfmt: without 'time' in keep, envelope time is kept") {
    val out = Ingest.logfmt(lines(
      """{"log":"time=2024-06-07T08:09:10Z x=1","stream":"stdout","time":"2024-01-02T03:04:05Z"}"""),
      keep = Seq("x"))
      .select("ts", "fields").collect()
    assert(out(0).getLong(0) == Instant.parse("2024-01-02T03:04:05Z").getEpochSecond * 1000000000L)
    assert(out(0).getMap[String, String](1) == Map("stream" -> "stdout", "x" -> "1"))
  }

  test("text: leading-date detection and last-seen-date carry-forward") {
    val files = Seq(("/a.log",
      "2024-03-04 05:06:07 first\nno date here\nanother bare line\n2024-03-04 05:06:09 second\ntrailer"))
      .toDF("file", "content")
    val out = Ingest.text(files, () => Instant.parse("2024-03-04T00:00:00Z"))
      .orderBy("ts", "msg").select("ts", "msg").collect()
    val t1 = Instant.parse("2024-03-04T05:06:07Z").getEpochSecond * 1000000000L
    val t2 = Instant.parse("2024-03-04T05:06:09Z").getEpochSecond * 1000000000L
    val byMsg = out.map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(byMsg("2024-03-04 05:06:07 first") == t1)
    assert(byMsg("no date here") == t1)      // carried forward
    assert(byMsg("another bare line") == t1)
    assert(byMsg("2024-03-04 05:06:09 second") == t2)
    assert(byMsg("trailer") == t2)
  }

  test("text: dateless prefix lines get ts=0 (no date seen yet)") {
    val files = Seq(("/a.log", "preamble\n2024-03-04 05:06:07 first")).toDF("file", "content")
    val out = Ingest.text(files, () => Instant.parse("2024-03-04T00:00:00Z"))
      .select("ts", "msg").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(out("preamble") == 0L)
  }

  test("text: fail/skip state machine recovers when dates reappear") {
    // 10 dateless lines trip the parser into 'skipping'; after 10 skipped
    // lines it probes again and finds the date (reference
    // line_parser.go:129-158)
    val pre = (1 to 25).map(i => s"noise $i")
    val content = (Seq("2024-03-04 05:06:07 dated") ++ pre ++
      Seq("2024-03-04 05:06:09 dated again", "tail line")).mkString("\n")
    val files = Seq(("/a.log", content)).toDF("file", "content")
    val out = Ingest.text(files, () => Instant.parse("2024-03-04T00:00:00Z"))
      .select("ts", "msg").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    val t1 = Instant.parse("2024-03-04T05:06:07Z").getEpochSecond * 1000000000L
    val t2 = Instant.parse("2024-03-04T05:06:09Z").getEpochSecond * 1000000000L
    assert(out("noise 1") == t1 && out("noise 25") == t1)
    assert(out("2024-03-04 05:06:09 dated again") == t2)
    assert(out("tail line") == t2)
  }

  test("pure: every line gets the ingest time") {
    val clock = Instant.parse("2024-05-06T07:08:09Z")
    val out = Ingest.pure(lines("a", "b"), () => clock).select("ts", "msg").collect()
    assert(out.forall(_.getLong(0) == clock.getEpochSecond * 1000000000L))
    assert(out.map(_.getString(1)).toSet == Set("a", "b"))
  }

  test("collector tailing: re-run ingests only appended content, unchanged files skip") {
    import java.nio.file.{Files, StandardOpenOption}
    val store = new graft.store.Store(spark, Files.createTempDirectory("graft-col").toString)
    val src = Files.createTempDirectory("graft-src")
    val f = src.resolve("a.raw")
    Files.writeString(f, "one\ntwo\n")
    val schema = PathSchema(".*/(?<name>[^/.]+)\\.raw$", "pure", Map("name" -> "{name}"))
    val clock = () => Instant.parse("2024-05-06T07:08:09Z")
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 1)
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 0, "no growth: nothing read")
    Files.writeString(f, "three\nfour\n", StandardOpenOption.APPEND)
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 1)
    val rows = store.read(Seq("name=a")).select("msg", "seq").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("four", "one", "three", "two"),
      "appended lines land exactly once")
    assert(rows.map(_.getLong(1)).distinct.length == 4, "(part, seq) unique across runs")
  }

  test("collector tailing: tails of 3 files are read in one stage, one task per file up to the cores") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-tails")
    val files = Seq("a", "b", "c").map { n =>
      val f = src.resolve(s"$n.log")
      Files.writeString(f, s"head-$n\ntail-$n\n")
      f.toString
    }
    // the second file is read from its second line on
    val toRead = files.zipWithIndex.map { case (f, i) =>
      (f, if (i == 1) 7L else 0L, Files.size(java.nio.file.Paths.get(f)))
    }
    val tails = Collector.readTails(spark, spark.sparkContext.hadoopConfiguration, toRead)
    var got = Map.empty[String, String]
    val fired = TestSpark.fired { got = tails.collect().toMap }
    assert(got == Map(files(0) -> "head-a\ntail-a\n", files(1) -> "tail-b\n",
      files(2) -> "head-c\ntail-c\n"))
    assert(fired.jobs == 1)
    assert(fired.tasks == math.min(3, spark.sparkContext.defaultParallelism))
    assert(fired.plans.nonEmpty && fired.plans.forall(!_.contains("Exchange")),
      fired.plans.mkString("\n"))
  }

  test("collector tailing: a one-file batch is read, numbered and written in one job") {
    import java.nio.file.Files
    val store = new graft.store.Store(spark, Files.createTempDirectory("graft-col").toString)
    val src = Files.createTempDirectory("graft-src")
    Files.writeString(src.resolve("a.raw"), "one\ntwo\nthree\n")
    val schema = PathSchema(".*/(?<name>[^/.]+)\\.raw$", "pure", Map("name" -> "{name}"))
    val clock = () => Instant.parse("2024-05-06T07:08:09Z")
    var files = 0
    val fired = TestSpark.fired { files = Collector.ingest(store, schema, s"$src/*.raw", clock) }
    assert(files == 1)
    assert(fired.jobs == 1)
    assert(fired.plans.nonEmpty && fired.plans.forall(!_.contains("Exchange")),
      fired.plans.mkString("\n"))
    val rows = store.read(Seq("name=a")).orderBy("seq").select("msg").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("one", "two", "three"), "seq follows line order")
  }

  test("collector tailing: dated text tail parses appended dates") {
    import java.nio.file.{Files, StandardOpenOption}
    val store = new graft.store.Store(spark, Files.createTempDirectory("graft-col").toString)
    val src = Files.createTempDirectory("graft-src")
    val f = src.resolve("boot.txt")
    Files.writeString(f, "2024-03-04 05:06:07 first\n")
    val schema = PathSchema(".*/(?<name>[^/.]+)\\.txt$", "text", Map("name" -> "{name}"))
    val clock = () => Instant.parse("2024-03-04T00:00:00Z")
    Collector.ingest(store, schema, s"$src/*.txt", clock)
    Files.writeString(f, "2024-03-04 05:06:09 second\nbare tail\n", StandardOpenOption.APPEND)
    Collector.ingest(store, schema, s"$src/*.txt", clock)
    // a THIRD run whose tail has no date at all: the carry state must come
    // from the persisted per-file position entry, not restart at 0
    Files.writeString(f, "dateless continuation\n", StandardOpenOption.APPEND)
    Collector.ingest(store, schema, s"$src/*.txt", clock)
    val byMsg = store.read(Seq("name=boot")).select("ts", "msg").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val t2 = Instant.parse("2024-03-04T05:06:09Z").getEpochSecond * 1000000000L
    assert(byMsg.size == 4)
    assert(byMsg("2024-03-04 05:06:09 second") == t2)
    assert(byMsg("bare tail") == t2, "carry-forward works within the tail")
    assert(byMsg("dateless continuation") == t2,
      "carry state survives across collector runs via the position file")
  }

  test("collector tailing: rotation detected after the file regrows past the old offset") {
    import java.nio.file.Files
    val store = new graft.store.Store(spark, Files.createTempDirectory("graft-col").toString)
    val src = Files.createTempDirectory("graft-src")
    val f = src.resolve("g.raw")
    Files.writeString(f, "old-a\nold-b\n") // 12 bytes
    val schema = PathSchema(".*/(?<name>[^/.]+)\\.raw$", "pure", Map("name" -> "{name}"))
    val clock = () => Instant.parse("2024-05-06T07:08:09Z")
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 1)
    // copytruncate + regrow LONGER than the old offset before the next poll:
    // length alone can't detect it, the prefix fingerprint must
    Files.writeString(f, "new-1\nnew-2\nnew-3\nnew-4\n")
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 1)
    val msgs = store.read(Seq("name=g")).select("msg").collect().map(_.getString(0)).sorted
    assert(msgs.count(_.startsWith("new-")) == 4,
      s"rotated file must restart from byte 0, got ${msgs.mkString(",")}")
  }

  test("collector tailing: a truncated (rotated) file restarts from byte 0") {
    import java.nio.file.Files
    val store = new graft.store.Store(spark, Files.createTempDirectory("graft-col").toString)
    val src = Files.createTempDirectory("graft-src")
    val f = src.resolve("r.raw")
    Files.writeString(f, "before rotation line one\nbefore rotation line two\n")
    val schema = PathSchema(".*/(?<name>[^/.]+)\\.raw$", "pure", Map("name" -> "{name}"))
    val clock = () => Instant.parse("2024-05-06T07:08:09Z")
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 1)
    Files.writeString(f, "fresh\n") // copytruncate: shorter than the old offset
    assert(Collector.ingest(store, schema, s"$src/*.raw", clock) == 1)
    val msgs = store.read(Seq("name=r")).select("msg").collect().map(_.getString(0)).sorted
    assert(msgs.contains("fresh"), "regrown content below the old offset must land")
    assert(msgs.length == 3)
  }

  test("collector handles paths with spaces (old input_file_name URI loss)") {
    import java.nio.file.Files
    val store = new graft.store.Store(spark, Files.createTempDirectory("graft-col").toString)
    val src = Files.createTempDirectory("graft-src")
    Files.writeString(src.resolve("my log.raw"), "alpha\nbeta\n")
    val schema = PathSchema(".*/(?<name>[^/]+)\\.raw$", "pure", Map("name" -> "{name}"))
    assert(Collector.ingest(store, schema, s"$src/*.raw",
      () => Instant.parse("2024-05-06T07:08:09Z")) == 1)
    assert(store.read(Seq("name=my log")).count() == 2, "rows from the spaced path all land")
  }

  test("path schema: named groups, templates, non-matching paths") {
    val s = PathSchema(
      pathMatcher = ".*/(?<pod>[^_/]+)_(?<ns>[^/]+)/app\\.log$",
      dataFormat = "k8json",
      tags = Map("pod" -> "{pod}", "ns" -> "{ns}", "static" -> "fixed"),
      fields = Map("origin" -> "{pod}@{ns}"))
    assert(s.tagsFor("/x/mypod_myns/app.log") ==
      Some(Map("pod" -> "mypod", "ns" -> "myns", "static" -> "fixed")))
    assert(s.fieldsFor("/x/mypod_myns/app.log") == Some(Map("origin" -> "mypod@myns")))
    assert(s.tagsFor("/x/other/file.log").isEmpty)
  }
}
