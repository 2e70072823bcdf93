package graft.store

import graft.engine.Engine
import graft.sources.{Collector, PathSchema}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.time.Instant

/** A store built entirely through the file collector + ingest parsers, for
  * the `lql_ingest_*` correctness entries: deterministic synthetic log
  * files (k8json/logfmt envelope, dated text, pure) are written to /tmp,
  * collected via path-schema tag assignment, and queried back with LQL.
  * Fixture timestamps are fixed constants so the DuckDB oracles are plain
  * VALUES lists.
  */
object IngestStore {

  val Version = "v3" // round 6: appendWithSeq ingest path

  /** Pinned ingest clock for the `pure` parser (every pure record gets the
    * ingest time). */
  val PureClock: Instant = Instant.parse("2024-05-06T07:08:09Z")

  /** On-disk cache root for `sfDir` (marker-file convention as
    * [[EventStore.storeRoot]]; fixture content is sfDir-independent so no
    * data fingerprint is needed in the key). */
  def storeRoot(sfDir: String): String = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    s"/tmp/graft/ingeststore-$Version-$name"
  }

  def engine(spark: SparkSession, sfDir: String): Engine = {
    val root = storeRoot(sfDir)
    EventStore.fixtureEngine(spark, root, None)(eng => build(spark, root, eng.store))
  }

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** The k8json/logfmt fixture lines (see LqlQueries oracles for the
    * expected parse). */
  private[store] val k8Lines1 = Seq(
    """{"log":"level=info user=u1 msg hello","stream":"stdout","time":"2024-01-02T03:04:05.123456789Z"}""",
    """{"log":"plain text line","stream":"stderr","time":"2024-01-02T03:04:06.5Z"}""",
    """{"log":"level=warn time=2024-01-02T10:00:00.25Z user=u2 disk low","stream":"stdout","time":"2024-01-02T03:04:07Z"}""",
    """{"log":"level=error dup=1 dup=2","stream":"stdout","time":"2024-01-02T03:04:08.000000001Z"}""")
  private[store] val k8Lines2 = Seq(
    """{"log":"level=debug user=u3 ok","stream":"stdout","time":"2024-02-03T04:05:06.999999Z"}""",
    """{"log":"no fields here","stream":"stderr","time":"2024-02-03T04:05:07Z"}""")
  // NB no fractional seconds: the shared format table has no zone-less
  // `YYYY-MM-DD HH:mm:ss.SSS` entry (the reference's doesn't either), so a
  // fraction would be silently ignored by the first matching format.
  private[store] val textLines = Seq(
    "2024-03-04 05:06:07 start of something",
    "  continuation line",
    "2024-03-04 05:06:08 second")
  private[store] val pureLines = Seq("alpha", "beta")

  /** Bare k8json fixture (no logfmt wrapping) pinning the envelope parse on
    * its own: `stream` field carried (empty when absent), RFC3339Nano ts
    * with full fractional digits, malformed lines dropped
    * (reference pkg/scanner/parser/k8s_parser.go:28-85). */
  private[store] val k8jsonLines = Seq(
    """{"log":"first message","stream":"stdout","time":"2024-04-05T06:07:08.123456789Z"}""",
    """{"log":"second","stream":"stderr","time":"2024-04-05T06:07:09.000000001Z"}""",
    """{"log":"third no stream","time":"2024-04-05T06:07:10Z"}""",
    """garbage not json""")

  private def build(spark: SparkSession, root: String, store: Store): Unit = {
    val src = s"$root/src"
    write(s"$src/pod-a_ns1/app.log", k8Lines1.mkString("", "\n", "\n"))
    write(s"$src/pod-b_ns2/app.log", k8Lines2.mkString("", "\n", "\n"))
    write(s"$src/sys/boot.txt", textLines.mkString("", "\n", "\n"))
    write(s"$src/raw/notes.raw", pureLines.mkString("", "\n", "\n"))
    write(s"$src/k8s/podx.jsonl", k8jsonLines.mkString("", "\n", "\n"))

    Collector.ingest(store,
      PathSchema(
        pathMatcher = ".*/(?<pod>[^_/]+)_(?<ns>[^/]+)/app\\.log$",
        dataFormat = "logfmt",
        tags = Map("pod" -> "{pod}", "ns" -> "{ns}"),
        logfmtKeep = Seq("level", "user", "time")),
      s"$src/*/app.log")

    Collector.ingest(store,
      PathSchema(
        pathMatcher = ".*/k8s/(?<pod>[^/.]+)\\.jsonl$",
        dataFormat = "k8json",
        tags = Map("pod" -> "{pod}", "kind" -> "k8slog")),
      s"$src/k8s/*.jsonl")

    Collector.ingest(store,
      PathSchema(
        pathMatcher = ".*/sys/(?<name>[^/.]+)\\.txt$",
        dataFormat = "text",
        tags = Map("name" -> "{name}", "kind" -> "textlog")),
      s"$src/sys/*.txt")

    Collector.ingest(store,
      PathSchema(
        pathMatcher = ".*/raw/(?<name>[^/.]+)\\.raw$",
        dataFormat = "pure",
        tags = Map("name" -> "{name}", "kind" -> "purelog"),
        fields = Map("origin" -> "file-{name}")),
      s"$src/raw/*.raw",
      ingestTime = () => PureClock)
  }
}
