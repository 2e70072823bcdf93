package graft.engine

import graft.lql.Ast._
import graft.lql.{FormatCompiler, Parser, TagsCompiler, WhereCompiler}
import graft.model.Model
import graft.store.Store
import graft.streaming.PipeService
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.Base64

/** Query engine: LQL string → Spark plan over the [[Store]].
  *
  * SELECT lifecycle (the Spark re-expression of
  * reference pkg/cursor/cursor.go:85-164 + pkg/backend/querier.go:53-130):
  *  1. parse LQL;
  *  2. resolve sources: FROM predicate against the catalog → ≤50 partitions
  *     (reference caps at 50, pkg/cursor/cursor.go:186); deterministic
  *     (sorted) selection;
  *  3. declarative plan: partition-pruned scan → inclusive ts RANGE →
  *     compiled WHERE → total order (ts, part, seq) — Spark's sort-limit
  *     (TakeOrdered) replaces the reference's k-way mixer tree; ties are
  *     stable because seq is unique per (part);
  *  4. POSITION head/tail/continuation-token (keyset), OFFSET (± — negative
  *     walks backward, reference cursor.go:244-285), LIMIT clamped to 10000
  *     (reference backend/querier.go:43); the page observes its own last
  *     key, so the `collect()` that returns it also yields the next token
  *     (reference backend/querier.go:120-126 reads it off the same cursor);
  *  5. projection: API shape (ts, msg, tags line, fields kv-string —
  *     reference backend/querier.go:90-107) or the format template.
  */
final class Engine(val store: Store, clock: () => Instant = () => Instant.now()) {

  val spark: SparkSession = store.spark
  private val parser = new Parser(clock)
  private val whereC = new WhereCompiler(clock)
  /** Continuous queries (reference pkg/pipe) — see [[PipeService]]. */
  val pipes: PipeService = new PipeService(store, clock)

  val MaxLimit = 10000      // reference backend/querier.go:43
  val MaxSources = 50       // reference cursor.go:186

  // --- parsing ---------------------------------------------------------

  def parse(lql: String): Lql =
    parser.parse(lql).fold(m => throw LqlException(m), identity)

  /** Execute any LQL statement; every statement returns rows. */
  def execute(lql: String): DataFrame = parse(lql) match {
    case s: Select            => select(s)
    case s: ShowPartitions    => showPartitions(s)
    case d: DescribePartition => describePartition(d.tags)
    case t: Truncate          => truncate(t)
    case c: CreatePipe        => pipeRow(pipes.create(c))
    case d: DeletePipe        => { pipes.delete(d.name); import spark.implicits._
                                   Seq(d.name).toDF("pipe") }
    case d: DescribePipe      => pipeRow(pipes.get(d.name).getOrElse(
                                   throw LqlException(s"pipe ${d.name} not found")))
    case s: ShowPipes         => showPipes(s)
  }

  /** DESCRIBE PIPE shape (reference pkg/backend/admin.go:242-255: name,
    * source cond, filter cond, destination partition). */
  private def pipeRow(p: graft.streaming.PipeDef): DataFrame = {
    import spark.implicits._
    Seq((p.name, p.fromStr, p.whereStr, p.destLine))
      .toDF("pipe", "from", "where", "partition")
  }

  /** SHOW PIPES — names sorted alphabetically, paginated
    * (reference pkg/backend/admin.go:133-160). */
  def showPipes(s: ShowPipes): DataFrame = {
    import spark.implicits._
    val names = pipes.list().map(_.name)
    names.drop(intArg("OFFSET", s.offset.getOrElse(0L)))
      .take(s.limit.map(intArg("LIMIT", _)).getOrElse(Int.MaxValue))
      .toDF("pipe")
  }

  // --- source resolution -------------------------------------------------

  /** Partitions matching the FROM source, deterministically sorted by tag
    * line. More than [[MaxSources]] matches is an error, as in the reference
    * (pkg/partition/partition.go:228-231 errors at the GetJournals limit) —
    * silently truncating would return partial results. */
  def prune(source: Option[Source]): Seq[String] = pruneTags(source).map(_._1)

  /** [[prune]] with each matched partition's parsed tags, so a SELECT reads
    * the catalog's part summaries once. */
  private def pruneTags(source: Option[Source]): Seq[(String, Map[String, String])] = {
    val pred = TagsCompiler.compile(source)
    val matched = store.partitions().filter { case (_, tags) => pred(tags) }
      .toSeq.sortBy(_._1)
    if (matched.length > MaxSources)
      throw LqlException(
        s"Limit exceeds. Expected no more than $MaxSources partitions, but at least ${matched.length} found")
    matched
  }

  /** Literal tag map per selected partition as a Column (for {vars:x} tag
    * fallback) — a small CASE chain over ≤50 partitions, constant-folded by
    * Catalyst; avoids parsing tag lines per row at runtime. */
  private def tagsMapCol(parts: Seq[(String, Map[String, String])]): Column = {
    val empty = map().cast("map<string,string>")
    parts.foldLeft(empty) { case (acc, (line, tags)) =>
      val m =
        if (tags.isEmpty) empty
        else map(tags.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      when(col("part") === line, m).otherwise(acc)
    }
  }

  // --- SELECT ------------------------------------------------------------

  /** Continuation token: opaque keyset position after the last returned row
    * (replaces the reference's server-side cursor cache,
    * pkg/cursor/provider.go:86-154, with a stateless token). */
  final case class PosKey(ts: Long, part: String, seq: Long) {
    def token: String = {
      val p = Base64.getUrlEncoder.encodeToString(part.getBytes(StandardCharsets.UTF_8))
      "tok:" + Base64.getUrlEncoder.encodeToString(s"$ts|$p|$seq".getBytes(StandardCharsets.UTF_8))
    }
  }
  object PosKey {
    /** None for anything that is not a well-formed token (bad base64,
      * non-numeric parts, ...) — callers surface that as [[LqlException]],
      * never a raw IllegalArgumentException. */
    def fromToken(tok: String): Option[PosKey] =
      if (!tok.startsWith("tok:")) None
      else scala.util.Try {
        val body = new String(Base64.getUrlDecoder.decode(tok.drop(4)), StandardCharsets.UTF_8)
        body.split('|') match {
          case Array(ts, p, seq) =>
            Some(PosKey(ts.toLong, new String(Base64.getUrlDecoder.decode(p), StandardCharsets.UTF_8), seq.toLong))
          case _ => None
        }
      }.toOption.flatten
  }

  private def afterKey(k: PosKey): Column =
    (col("ts") > k.ts) ||
      (col("ts") === k.ts && (col("part") > k.part ||
        (col("part") === k.part && col("seq") > k.seq)))

  private def upToKey(k: PosKey): Column =
    (col("ts") < k.ts) ||
      (col("ts") === k.ts && (col("part") < k.part ||
        (col("part") === k.part && col("seq") <= k.seq)))

  private val ascOrder = Seq(col("ts").asc, col("part").asc, col("seq").asc)
  private val descOrder = Seq(col("ts").desc, col("part").desc, col("seq").desc)

  def select(lql: String): DataFrame = parse(lql) match {
    case s: Select => select(s)
    case other     => throw LqlException(s"not a SELECT: ${other.render}")
  }

  def select(sel: Select): DataFrame = selectWithToken(sel)._1

  /** Run a SELECT; the page carries an observed metric — the max of
    * (ts, part, seq) and the row count over the rows it returns — that its
    * own action fills in, so [[pageToken]] needs no second job. Each page
    * observes under its own name: Spark rejects a plan (a union of two
    * pages, say) in which two frames share a metric name. */
  def selectWithToken(sel: Select): (DataFrame, Engine.PageKeys) = {
    val tagged = pruneTags(sel.source)
    val parts = tagged.map(_._1)
    // RANGE — inclusive on both ends (reference fiterator.go:93-95);
    // absent bounds are 0 / MaxInt64 (reference cursor.go:94-100). The
    // range reaches the store read too, so non-overlapping chunks are
    // pruned from the file list before the scan (tmindex equivalent).
    val tsRange = sel.range.map(r => (r.t1.getOrElse(0L), r.t2.getOrElse(Long.MaxValue)))

    val posNorm = sel.position.map(p =>
      if (p.equalsIgnoreCase("head") || p.equalsIgnoreCase("tail")) p.toLowerCase else p)
    val keyOpt = posNorm match {
      case Some(tok) if tok != "head" && tok != "tail" =>
        Some(PosKey.fromToken(tok).getOrElse(
          throw LqlException(s"position must be head|tail|<continuation token>, got '$tok'")))
      case _ => None
    }
    val offset = intArg("OFFSET", sel.offset.getOrElse(0L))
    sel.limit.foreach(l => if (l < 0) throw LqlException(s"LIMIT must not be negative, got $l"))
    // a forward read from a continuation token never needs chunks that end
    // strictly before the key's ts — so each page (and each tail-follow
    // poll) scans only chunks at/after its position, independent of how
    // much history the partition holds
    val readRange = keyOpt match {
      case Some(k) if offset >= 0 =>
        Some((math.max(tsRange.map(_._1).getOrElse(0L), k.ts),
          tsRange.map(_._2).getOrElse(Long.MaxValue)))
      case _ => tsRange
    }
    var df = store.read(parts, readRange)
    tsRange.foreach { case (minTs, maxTs) =>
      df = df.where(col("ts") >= minTs && col("ts") <= maxTs)
    }
    sel.where.foreach { w =>
      df = df.where(whereC.compile(w, col("ts"), col("msg"), col("fields")))
    }

    val limit = math.min(sel.limit.getOrElse(MaxLimit.toLong), MaxLimit.toLong).toInt

    val page: DataFrame = posNorm match {
      case None | Some("head") =>
        val fwd = df.orderBy(ascOrder: _*)
        val skipped = if (offset > 0) fwd.offset(offset) else fwd // negative from head clamps to head
        skipped.limit(limit)

      case Some("tail") =>
        if (offset >= 0) df.limit(0) // at EOF, nothing forward
        else {
          // last |offset| records, read forward from there (reference
          // cursor.go:244-285 backward walk + forward read)
          val lastN = df.orderBy(descOrder: _*).limit(-offset)
          lastN.orderBy(ascOrder: _*).limit(limit)
        }

      case Some(_) =>
        val key = keyOpt.get
        if (offset >= 0) {
          val fwd = df.where(afterKey(key)).orderBy(ascOrder: _*)
          (if (offset > 0) fwd.offset(offset) else fwd).limit(limit)
        } else {
          // shift position back |offset| records, then read forward
          val back = df.where(upToKey(key)).orderBy(descOrder: _*).limit(-offset)
          val fwd = df.where(afterKey(key))
          back.unionByName(fwd).orderBy(ascOrder: _*).limit(limit)
        }
    }

    val name = s"graft_page_${Engine.pageIds.incrementAndGet()}"
    val observed = page.observe(name,
      max(struct(col("ts"), col("part"), col("seq"))).as("last"), count(lit(1)).as("rows"))
    val api = project(observed, sel, tagged)
    (api, Engine.PageKeys(api, name))
  }

  /** An LQL integer Spark takes as an Int: a magnitude above
    * `Int.MaxValue` is an error, never a silent wrap. */
  private def intArg(name: String, v: Long): Int =
    if (v > Int.MaxValue || v < -Int.MaxValue)
      throw LqlException(s"$name $v is out of range (at most ${Int.MaxValue} in magnitude)")
    else v.toInt

  /** The continuation token after the page's last row; None when the page
    * is empty. After the page's `collect()` this reads the key that
    * collect observed and fires no job. Before any action (or after one
    * that ran a different plan, such as `take`, `show` or `count`), and on
    * an empty page, the observed count reads 0, so it collects a fresh copy
    * of the page once and reads that copy's metric: one job, no more than
    * the page itself costs. */
  def pageToken(keys: Engine.PageKeys): Option[String] = {
    def last(df: DataFrame): Option[Row] =
      df.queryExecution.observedMetrics.get(keys.name).filter(_.getLong(1) > 0).map(_.getStruct(0))
    last(keys.page).orElse {
      val fresh = keys.page.select(col("*"))
      fresh.collect()
      last(fresh)
    }.map(r => PosKey(r.getLong(0), r.getString(1), r.getLong(2)).token)
  }

  /** API projection (reference backend/querier.go:90-107) or, when a format
    * template is present, the single formatted `line` column. */
  private def project(df: DataFrame, sel: Select,
      parts: Seq[(String, Map[String, String])]): DataFrame =
    sel.format match {
      case Some(f) =>
        val line = FormatCompiler.compile(
          f, col("ts"), col("msg"), col("part"), tagsMapCol(parts), col("fields"))
        df.select(col("ts"), line.as("line"))
      case None =>
        df.select(
          col("ts"),
          col("msg"),
          col("part").as("tags"),
          Model.fieldsKvCol(col("fields")).as("fields"))
    }

  // --- SHOW PARTITIONS -----------------------------------------------------

  /** Partitions matching the source, sorted by size desc (reference
    * pkg/backend/admin.go:93-131, pkg/partition/partition.go:282-351), with
    * OFFSET/LIMIT paging. Ties broken by tag line for determinism. */
  def showPartitions(s: ShowPartitions): DataFrame = {
    val pred = TagsCompiler.compile(s.source)
    // summary-backed: O(parts) sidecar read, never the O(chunks) base
    val rows = store.catalog.partSummaries().valuesIterator
      .filter(ps => pred(Model.parseTags(ps.part).getOrElse(Map.empty)))
      .map(ps => (ps.part, ps.sizeBytes, ps.records))
      .toSeq.sortBy { case (line, size, _) => (-size, line) }
    val page = rows.drop(s.offset.getOrElse(0)).take(s.limit.getOrElse(Int.MaxValue))
    import spark.implicits._
    page.toDF("partition", "size_bytes", "records")
  }

  /** Totals over ALL matching partitions (reference admin.go prints count +
    * total size/records regardless of paging). */
  def showPartitionsTotals(source: Option[Source]): (Long, Long, Long) = {
    val pred = TagsCompiler.compile(source)
    // summary-backed like showPartitions: totals never parse per-chunk rows
    val sums = store.catalog.partSummaries().valuesIterator
      .filter(ps => pred(Model.parseTags(ps.part).getOrElse(Map.empty)))
      .toSeq
    (sums.size.toLong, sums.map(_.sizeBytes).sum, sums.map(_.records).sum)
  }

  // --- DESCRIBE PARTITION -------------------------------------------------

  /** Per-chunk (file) stats for the exact tag line
    * (reference pkg/backend/admin.go:257-280): file, records, size, min/max
    * ts — chunk order = ingest order (writeTs, then file name). */
  def describePartition(tags: Map[String, String]): DataFrame = {
    val line = Model.tagLine(tags)
    val chunks = store.catalog.entriesForPart(line)
      .sortBy(e => (e.writeTs, e.file))
    import spark.implicits._
    chunks.map(e => (e.part, new org.apache.hadoop.fs.Path(e.file).getName,
        e.records, e.sizeBytes, e.minTs, e.maxTs))
      .toDF("partition", "chunk", "records", "size_bytes", "min_ts", "max_ts")
  }

  // --- TRUNCATE -------------------------------------------------------------

  /** Retention (reference pkg/partition/partition.go:408-620 + OR-semantics
    * of MAXSIZE/BEFORE documented at client/shell/command.go:286-288):
    * per matching partition drop oldest chunks while
    *   size > MAXSIZE (when set), or chunk.maxTs <= BEFORE (when set),
    * never shrinking below MINSIZE; then MAXDBSIZE deletes least-recently-
    * written partitions entirely until the total fits. DRYRUN reports
    * without deleting.
    */
  def truncate(t: Truncate): DataFrame = {
    val pred = TagsCompiler.compile(t.source)
    // partition selection from the O(parts) summaries; per-chunk detail
    // is then loaded shard-locally for ONLY the matching partitions, so a
    // tag-filtered TRUNCATE never parses the whole catalog
    val matchingLines = store.catalog.partSummaries().keysIterator
      .filter(line => pred(Model.parseTags(line).getOrElse(Map.empty)))
      .toSeq
    val matching = store.catalog.entriesForParts(matchingLines)
      .filter(_._2.nonEmpty)

    val minSize = t.minSize.getOrElse(0L)
    val maxSize = t.maxSize.getOrElse(0L)
    val before = t.before.getOrElse(0L)

    final case class Report(part: String, beforeSize: Long, afterSize: Long,
        beforeRecs: Long, afterRecs: Long, chunksDeleted: Int, deleted: Boolean,
        dropFiles: Seq[String], latestWriteTs: Long)

    var reports = matching.toSeq.sortBy(_._1).map { case (line, es) =>
      val chunks = es.sortBy(e => (e.writeTs, e.file)) // oldest first
      val beforeSz = chunks.map(_.sizeBytes).sum
      val beforeRecs = chunks.map(_.records).sum
      var size = beforeSz
      var idx = 0
      // phase 1: cut by size (reference partition.go:596-601)
      if (maxSize > 0 && maxSize > minSize) {
        while (idx < chunks.length && size > maxSize && size - chunks(idx).sizeBytes >= minSize) {
          size -= chunks(idx).sizeBytes; idx += 1
        }
      }
      // phase 2: cut by record age — OR semantics (partition.go:604-608)
      if (before > 0) {
        while (idx < chunks.length && chunks(idx).maxTs <= before && size - chunks(idx).sizeBytes >= minSize) {
          size -= chunks(idx).sizeBytes; idx += 1
        }
      }
      val drop = chunks.take(idx)
      val afterRecs = beforeRecs - drop.map(_.records).sum
      Report(line, beforeSz, size, beforeRecs, afterRecs, idx,
        deleted = size == 0, drop.map(_.file), chunks.map(_.writeTs).max)
    }

    // phase 3: MAXDBSIZE — delete least-recently-written partitions wholly
    // (reference partition.go:516-560)
    t.maxDbSize.foreach { maxDb =>
      var total = reports.map(_.afterSize).sum
      if (total > maxDb) {
        val order = reports.sortBy(_.latestWriteTs) // oldest last-write first
        val toDelete = scala.collection.mutable.Set.empty[String]
        order.foreach { r =>
          if (total > maxDb && r.afterSize > 0) {
            total -= r.afterSize
            toDelete += r.part
          }
        }
        reports = reports.map { r =>
          if (toDelete.contains(r.part)) {
            val remaining = store.catalog.entriesForPart(r.part).map(_.file)
              .filterNot(r.dropFiles.contains)
            r.copy(afterSize = 0, afterRecs = 0,
              chunksDeleted = r.chunksDeleted + remaining.size, deleted = true,
              dropFiles = r.dropFiles ++ remaining)
          } else r
        }
      }
    }

    if (!t.dryRun) store.deleteFiles(reports.flatMap(_.dropFiles))

    import spark.implicits._
    reports.map(r => (r.part, r.beforeSize, r.afterSize, r.beforeRecs, r.afterRecs,
        r.chunksDeleted, r.deleted))
      .toDF("partition", "before_size", "after_size", "before_records", "after_records",
        "chunks_deleted", "deleted")
  }
}

object Engine {
  /** The handle [[Engine.pageToken]] mints a page's token from: the page
    * as [[Engine.selectWithToken]] returned it, and the name under which
    * the page observes its last key and row count. */
  final case class PageKeys(page: DataFrame, name: String)

  /** Numbers every page's metric name, JVM-wide: pages of two engines can
    * meet in one plan too. */
  private val pageIds = new java.util.concurrent.atomic.AtomicLong
}
