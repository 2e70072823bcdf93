package graft.sources

import graft.lql.GoDates
import graft.model.Model
import graft.store.{StateFile, Store}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.Instant

/** Ingest parsers — how data gets INTO the store from log files
  * (reference pkg/scanner/parser): every parser turns raw file content into
  * the canonical (ts, msg, fields) shape; the [[Collector]] assigns
  * tags/fields from file paths and writes through [[Store.write]]'s path.
  *
  * Spark-first: k8json/logfmt are pure Column pipelines (`from_json`,
  * regex field extraction — whole-stage codegen, no UDFs); the `text`
  * parser's last-seen-date carry-forward is inherently sequential per file,
  * so it runs as a per-file flatMap (files are the parallelism unit, same
  * as the reference's per-file workers).
  */
object Ingest {

  /** RFC3339Nano timestamp string → int64 epoch nanos, as a Column.
    * Spark's TimestampType truncates to µs, so seconds and the fractional
    * part are combined manually for full ns fidelity. */
  def rfc3339NanoToNs(ts: Column): Column = {
    val secs = unix_timestamp(
      regexp_replace(ts, "\\.\\d+", ""), "yyyy-MM-dd'T'HH:mm:ssXXX")
    val fracDigits = regexp_extract(ts, "\\.(\\d+)", 1)
    val fracNs = when(fracDigits === "", lit(0L))
      .otherwise(rpad(fracDigits, 9, "0").cast("long"))
    secs * 1000000000L + fracNs
  }

  /** k8json: docker/k8s JSON log lines `{"log": ..., "stream": ...,
    * "time": RFC3339Nano}` (reference pkg/scanner/parser/k8s_parser.go:28-85).
    * `lines` must have a string `value` column; returns (ts, msg, fields).
    * Lines that don't parse as the envelope are dropped (the reference
    * errors the whole stream; dropping is the batch-friendly behaviour). */
  def k8json(lines: DataFrame): DataFrame = {
    val parsed = lines.select(
      from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "log STRING, stream STRING, time STRING")).as("j"),
      col("*"))
    parsed.where(col("j.time").isNotNull && col("j.log").isNotNull)
      .withColumn("ts", rfc3339NanoToNs(col("j.time")))
      .withColumn("msg", col("j.log"))
      .withColumn("fields", map(lit("stream"), coalesce(col("j.stream"), lit(""))))
      .drop("j", "value")
  }

  /** One logfmt token pair: key=value with optionally quoted value. */
  private val LogfmtPair = "([A-Za-z0-9_.-]+)=(\"(?:[^\"\\\\]|\\\\.)*\"|[^ ]*)"

  /** logfmt: the k8json envelope, then the `log` body parsed as logfmt
    * key=value pairs appended to fields, restricted to `keep` keys; a
    * parseable `time` field overrides the record timestamp
    * (reference pkg/scanner/parser/logfmt_parser.go:28-120). Duplicate keys
    * keep the LAST value (Go map assignment order). */
  def logfmt(lines: DataFrame, keep: Seq[String]): DataFrame = {
    val keys = regexp_extract_all(col("msg"), lit(LogfmtPair), lit(1))
    val rawVals = regexp_extract_all(col("msg"), lit(LogfmtPair), lit(2))
    // unquote quoted values: strip quotes, unescape \" then \\
    val vals = transform(rawVals, v =>
      when(v.startsWith("\"") && v.endsWith("\"") && length(v) >= 2,
        regexp_replace(regexp_replace(
          v.substr(lit(2), length(v) - 2), "\\\\\"", "\""), "\\\\\\\\", "\\\\"))
        .otherwise(v))
    val df = k8json(lines)
      .withColumn("kv_keys", keys)
      .withColumn("kv_vals", vals)

    // last value for a key (duplicates: last wins, like Go map assignment)
    def lastValueFor(k: String): Column = {
      val n = size(col("kv_keys"))
      val li = when(n >= 1,
        aggregate(sequence(lit(1), n), lit(0), (acc, i) =>
          when(element_at(col("kv_keys"), i) === k, i).otherwise(acc)))
        .otherwise(lit(0))
      when(li > 0, element_at(col("kv_vals"), li))
    }

    val keptEntries = keep.map { k =>
      struct(lit(k).as("key"), lastValueFor(k).as("value"))
    }
    val extra = filter(array(keptEntries: _*), e => e.getField("value").isNotNull)
    val tsOverride = lastValueFor("time")
    val withTs =
      if (!keep.contains("time")) df
      else df.withColumn("ts",
        when(tsOverride.isNotNull &&
            tsOverride.rlike("^\\d{4}-\\d{2}-\\d{2}T[0-9:.]+(Z|[+-][0-9:]+)$"),
          rfc3339NanoToNs(tsOverride))
          .otherwise(col("ts")))
    withTs
      .withColumn("fields",
        map_from_entries(concat(map_entries(col("fields")), extra)))
      .drop("kv_keys", "kv_vals")
  }

  /** text: one record per line; a leading date in any of the ~70 known
    * formats (shared GoDates table) sets the timestamp, lines without one
    * reuse the last seen date (reference pkg/scanner/parser/line_parser.go —
    * note the reference does NOT merge continuation lines into one record;
    * it carries the date forward). `files` = (file, content) pairs from
    * wholetext reads; per-file sequential, across-files parallel.
    *
    * Ports the reference's parsing/skipping state machine
    * (line_parser.go:50-80, 129-158): after `maxFailCnt` consecutive
    * full-table misses the parser stops probing for `maxSkipCnt` lines
    * (doubling up to 100) — a dateless multi-GB file costs O(lines), not
    * O(lines x formats). */
  def text(files: DataFrame, ingestTime: () => Instant = () => Instant.now()): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val nowNs = { val n = ingestTime(); n.getEpochSecond * 1000000000L + n.getNano }
    // optional per-file initial carry state (`ts0`): the collector seeds it
    // from the previous run's persisted state so a tail starting with
    // dateless lines continues the file's last seen date instead of 0
    val withSeed =
      if (files.columns.contains("ts0")) files.select(col("file"), col("content"), col("ts0"))
      else files.select(col("file"), col("content"), lit(0L).as("ts0"))
    withSeed.as[(String, String, Long)]
      .flatMap { case (file, content, ts0) =>
        var lastTs = ts0
        var curFmt: GoDates.Format = null
        var skipping = false
        var failSkipCnt = 0
        val maxFailCnt = 10
        var maxSkipCnt = 10
        val now = Instant.ofEpochSecond(nowNs / 1000000000L, nowNs % 1000000000L)
        content.linesIterator.zipWithIndex.map { case (line, idx) =>
          var ts = 0L
          val cached = if (curFmt != null) curFmt.parse(line) else None
          cached match {
            case Some(p) => ts = toNs(p.resolve(now))
            case None if !skipping =>
              GoDates.knownFormats.iterator
                .map(f => (f, f.parse(line))).find(_._2.nonEmpty) match {
                case Some((f, Some(p))) =>
                  curFmt = f; ts = toNs(p.resolve(now))
                  maxSkipCnt = 10; failSkipCnt = 0
                case _ =>
                  curFmt = null
                  failSkipCnt += 1
                  if (failSkipCnt >= maxFailCnt) { skipping = true; failSkipCnt = 0 }
                  ts = lastTs
              }
            case None => // skipping: no probing, reuse last date
              failSkipCnt += 1
              if (failSkipCnt >= maxSkipCnt) {
                skipping = false; failSkipCnt = 0
                if (maxSkipCnt < 100) maxSkipCnt <<= 1
              }
              ts = lastTs
          }
          if (ts != 0L) lastTs = ts
          (file, idx.toLong, ts, line)
        }
      }.toDF("file", "idx", "ts", "msg")
      .withColumn("fields", map().cast("map<string,string>"))
  }

  /** pure: every line is a record timestamped with the ingest time
    * (reference pkg/scanner/parser/pure_parser.go). */
  def pure(lines: DataFrame, ingestTime: () => Instant = () => Instant.now()): DataFrame = {
    val n = ingestTime()
    lines.select(
      lit(n.getEpochSecond * 1000000000L + n.getNano).as("ts"),
      col("value").as("msg"),
      map().cast("map<string,string>").as("fields"),
      col("*")).drop("value")
  }

  private def toNs(i: Instant): Long = i.getEpochSecond * 1000000000L + i.getNano
}

/** File collector: matches file paths with a named-group regex and derives
  * per-file tags/fields from templates (reference pkg/scanner/schema.go:28-112),
  * then ingests each file's records into the [[Store]].
  */
final case class PathSchema(
    pathMatcher: String,
    dataFormat: String, // k8json | logfmt | text | pure
    tags: Map[String, String],
    fields: Map[String, String] = Map.empty,
    logfmtKeep: Seq[String] = Seq.empty) {

  private val rx = pathMatcher.r
  // inline (?<name>...) group names — scala.util.matching only exposes
  // constructor-passed names, so read them from the pattern itself
  private val groupNames: Seq[String] =
    "\\(\\?<([A-Za-z][A-Za-z0-9]*)>".r.findAllMatchIn(pathMatcher).map(_.group(1)).toSeq

  /** Named-group variables of the path, "" for non-matching groups
    * (reference schema.go:85-105). None when the path doesn't match. */
  def vars(path: String): Option[Map[String, String]] =
    rx.findFirstMatchIn(path).map { m =>
      groupNames.map { n => n -> Option(m.group(n)).getOrElse("") }.toMap
    }

  private def subst(tpl: String, vs: Map[String, String]): String =
    vs.foldLeft(tpl) { case (acc, (k, v)) => acc.replace("{" + k + "}", v) }

  def tagsFor(path: String): Option[Map[String, String]] =
    vars(path).map(vs => tags.map { case (k, tpl) => k -> subst(tpl, vs) })

  def fieldsFor(path: String): Option[Map[String, String]] =
    vars(path).map(vs => fields.map { case (k, tpl) => k -> subst(tpl, vs) })
}

object Collector {

  /** Serializable Hadoop-conf carrier for executor-side file opens (the
    * stock SerializableConfiguration is private[spark]). */
  private final class SerConf(@transient var value: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
    }
  }

  /** Collect every file under `glob` that matches the schema: parse per the
    * schema's data format, stamp path-derived tags/fields, append to the
    * store. One `store.append` for ALL files (single Spark job; per-file
    * tag lines become `part`).
    *
    * Continuous tailing (reference pkg/scanner/scanner.go — per-file read
    * positions persisted in the scanner state file): each run records, per
    * file, the byte offset consumed, the text parser's last-seen-date carry
    * state, and a fingerprint of the file's first bytes, all under
    * `<store root>/collector/`. A re-run reads ONLY content appended since,
    * skips unchanged files without touching them, seeds the text parser's
    * date carry-forward from the saved state, and detects rotation
    * (copytruncate) by the prefix fingerprint — a rotated file restarts
    * from byte 0 even if it has already regrown PAST the old offset.
    * Positions are saved after a successful append — at-least-once, the
    * forwarder's `.pos` discipline; `Store.assignSeq` epochs keep
    * `(part, seq)` unique across runs either way. A file whose last line is
    * mid-write at collection time is split across runs (the tail starts at
    * the recorded byte offset); collecting on a cadence coarser than the
    * writer's flush makes this vanishingly rare, same as the reference's
    * scanner.
    *
    * @return number of files with new data ingested */
  def ingest(store: Store, schema: PathSchema, glob: String,
      ingestTime: () => Instant = () => Instant.now(),
      trackPositions: Boolean = true): Int = {
    val spark = store.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(glob).getFileSystem(conf)
    // positions live under the STORE root, which may be a different
    // filesystem than the tailed logs
    val storeFs = new Path(store.root).getFileSystem(conf)
    val matched = Option(fs.globStatus(new Path(glob))).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString)
      .filter(p => schema.vars(p).nonEmpty)
      .sorted
    if (matched.isEmpty) return 0

    val posPath = positionsFile(store, schema, glob)
    val oldPos: Map[String, PosEntry] =
      if (trackPositions) loadPositions(storeFs, posPath) else Map.empty
    // snapshot lengths driver-side: executors read exactly [offset, len) so
    // a file growing mid-run cannot tear the batch
    val toRead: Seq[(String, Long, Long)] = matched.toSeq.flatMap { p =>
      val len = fs.getFileStatus(new Path(p)).getLen
      val old = oldPos.get(p)
      // rotation check: shrunk below the recorded offset, OR the first
      // bytes no longer hash to the recorded prefix (copytruncate that
      // already regrew past the old offset) — both restart from byte 0
      val rotated = old.exists { e =>
        len < e.off ||
          (e.pfxLen > 0 && (len < e.pfxLen || prefixHash(fs, p, e.pfxLen) != e.pfx))
      }
      val off = if (rotated) 0L else old.map(_.off).getOrElse(0L)
      if (len > off) Some((p, off, len)) else None
    }
    if (toRead.isEmpty) return 0
    val carryTs: Map[String, Long] = toRead.flatMap { case (p, off, _) =>
      if (off > 0) oldPos.get(p).map(e => p -> e.lastTs) else None
    }.toMap

    val partOf: Map[String, String] = toRead.map { case (p, _, _) =>
      p -> Model.tagLine(schema.tagsFor(p).get)
    }.toMap
    val sharedFields: Map[String, Map[String, String]] = toRead.map { case (p, _, _) =>
      p -> schema.fieldsFor(p).get
    }.toMap

    import spark.implicits._
    val tails = readTails(spark, conf, toRead)
    val parsed0: DataFrame = schema.dataFormat match {
      case "text" =>
        // seed each tail with the file's persisted date carry state, so a
        // tail that STARTS with dateless lines continues the last date seen
        // in earlier runs instead of ts=0
        val ts0 = carryTs.foldLeft(lit(0L)) { case (acc, (p, t)) =>
          when(col("file") === p, lit(t)).otherwise(acc)
        }
        Ingest.text(tails.toDF("file", "content").withColumn("ts0", ts0), ingestTime)
      case fmt =>
        // split tails into lines with spark.read.text semantics: one
        // trailing line terminator produces no empty last record
        val lines = tails.flatMap { case (f, c0) =>
          val c =
            if (c0.endsWith("\r\n")) c0.dropRight(2)
            else if (c0.endsWith("\n") || c0.endsWith("\r")) c0.dropRight(1)
            else c0
          // idx = line index within the tail: the source row id that keeps
          // seq assignment in LINE order and retry-stable (parsers pass it
          // through via their col("*") projections)
          c.split("\r\n|\r|\n", -1).iterator.zipWithIndex
            .map { case (l, i) => (f, i.toLong, l) }
        }.toDF("file", "idx", "value")
        fmt match {
          case "k8json" => Ingest.k8json(lines)
          case "logfmt" => Ingest.logfmt(lines, schema.logfmtKeep)
          case "pure"   => Ingest.pure(lines, ingestTime)
          case other    => throw new IllegalArgumentException(s"unknown format $other")
        }
    }

    // text + trackPositions runs a SECOND job over `parsed` (the per-file
    // last-ts carry, below); cache so file contents are read exactly once —
    // an uncached re-read races rotation/truncation between the two jobs
    // (EOFException after the append already succeeded → positions never
    // saved → the whole tail re-ingests as duplicates next run)
    val cacheParsed = trackPositions && schema.dataFormat == "text"
    val parsed = if (cacheParsed) parsed0.cache() else parsed0

    // path-derived part + shared fields, as a small when-chain over the
    // (few) file names — constant-folded, no per-row regex work. The file
    // column carries the exact matched path string (no input_file_name URI
    // round-trip, which percent-encodes and silently drops paths containing
    // spaces or '%').
    val partChain = toRead.foldLeft(lit(null).cast("string")) { case (acc, (p, _, _)) =>
      when(col("file") === p, partOf(p)).otherwise(acc)
    }
    val withPart = parsed.withColumn("part", partChain).where(col("part").isNotNull)
    val withFields =
      if (sharedFields.values.forall(_.isEmpty)) withPart
      else {
        val fieldChain = toRead.foldLeft(map().cast("map<string,string>")) { case (acc, (p, _, _)) =>
          val fm = sharedFields(p)
          if (fm.isEmpty) acc
          else when(col("file") === p,
            map(fm.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)).otherwise(acc)
        }
        // shared (path) fields lose to record fields on key clash, matching
        // Store.write's shared-fields discipline
        withPart.withColumn("fields",
          map_from_entries(concat(
            filter(map_entries(fieldChain),
              e => !array_contains(map_keys(col("fields")), e.getField("key"))),
            map_entries(col("fields")))))
      }

    try {
      // (file, idx) is the source row identity: seq follows line order
      // within each file and is stable under stage retries. One file is
      // one tail task and one part, so a one-file batch stays in that one
      // task: numbered and written with no exchange, no parallelism lost
      store.appendWithSeq(if (toRead.size == 1) withFields.coalesce(1) else withFields,
        orderBy = Seq(col("file"), col("idx")))
      if (trackPositions) {
        // text: the new carry state is the ts of each file's LAST line (the
        // parser's carry-forward applied), found via max_by on the line index
        val newCarry: Map[String, Long] =
          if (schema.dataFormat == "text")
            parsed.groupBy(col("file")).agg(expr("max_by(ts, idx)").as("t")).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          else Map.empty
        val updated = toRead.map { case (p, off, len) =>
          val pl = math.min(PrefixLen, len)
          p -> PosEntry(len,
            newCarry.getOrElse(p, if (off > 0) carryTs.getOrElse(p, 0L) else 0L),
            pl, prefixHash(fs, p, pl))
        }.toMap
        savePositions(storeFs, posPath, oldPos ++ updated)
      }
    } finally if (cacheParsed) parsed.unpersist()
    toRead.length
  }

  /** First-bytes fingerprint length for rotation detection. */
  private val PrefixLen = 64L

  /** FNV-1a over the file's first `n` bytes — rotation detector: a
    * copytruncated file gets new leading content, so its prefix hash
    * changes even after it regrows past the old offset. */
  private def prefixHash(fs: org.apache.hadoop.fs.FileSystem, p: String, n: Long): Long = {
    val in = fs.open(new Path(p))
    try {
      val buf = new Array[Byte](n.toInt)
      in.readFully(buf)
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < buf.length) { h = (h ^ (buf(i) & 0xff)) * 0x100000001b3L; i += 1 }
      h
    } finally in.close()
  }

  /** Read `[off, end)` of each file as one UTF-8 string on the executors —
    * files are the parallelism unit (the reference's per-file workers).
    * The file list is a driver-local `Seq`, which Spark's local scan
    * already splits into `min(files, default parallelism)` tasks, so the
    * reads run in one stage with no exchange, one task per file up to the
    * core count. Tails are bounded by collection cadence; a single tail
    * over 2 GiB fails loudly rather than silently truncating. */
  private[graft] def readTails(spark: org.apache.spark.sql.SparkSession, conf: Configuration,
      toRead: Seq[(String, Long, Long)]): org.apache.spark.sql.Dataset[(String, String)] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(new SerConf(conf))
    spark.createDataset(toRead)
      .mapPartitions { it =>
        val c = bc.value.value
        it.map { case (path, off, end) =>
          require(end - off <= Int.MaxValue, s"tail of $path exceeds 2 GiB; collect more often")
          val p = new Path(path)
          val in = p.getFileSystem(c).open(p)
          try {
            if (off > 0) in.seek(off)
            val buf = new Array[Byte]((end - off).toInt)
            in.readFully(buf)
            (path, new String(buf, java.nio.charset.StandardCharsets.UTF_8))
          } finally in.close()
        }
      }
  }

  // --- per-(schema, glob) position files ---------------------------------

  private def positionsFile(store: Store, schema: PathSchema, glob: String): Path = {
    val key = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"${schema.pathMatcher}|${schema.dataFormat}|$glob"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    new Path(store.root, s"collector/$key.pos.jsonl")
  }

  /** Per-file collection state: consumed byte offset, text-parser date
    * carry, and the first-bytes fingerprint used to detect rotation. */
  final case class PosEntry(off: Long, lastTs: Long, pfxLen: Long, pfx: Long)

  /** Positions as [[StateFile]] records, one per file (lines written
    * before the shared escape carry `"`/`\` as `\u0022`/`\u005c`, which
    * [[StateFile.unesc]] reads the same). */
  private[graft] def loadPositions(fs: org.apache.hadoop.fs.FileSystem, p: Path): Map[String, PosEntry] =
    StateFile.read(fs, p).map { line =>
      import StateFile.num
      StateFile.str(line, "file") ->
        PosEntry(num(line, "off", 0L), num(line, "ts", 0L), num(line, "pfxlen", 0L), num(line, "pfx", 0L))
    }.toMap

  /** Crash-safe rewrite: losing the position file would re-ingest every
    * file from byte 0 — duplicates, not data loss, but worth the same
    * [[StateFile.replace]] discipline as the pipe cursors. */
  private def savePositions(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      pos: Map[String, PosEntry]): Unit =
    StateFile.replace(fs, p, pos.toSeq.sortBy(_._1).map { case (f, e) =>
      s"""{"file":"${StateFile.esc(f)}","off":${e.off},"ts":${e.lastTs},"pfxlen":${e.pfxLen},"pfx":${e.pfx}}"""
    })
}
