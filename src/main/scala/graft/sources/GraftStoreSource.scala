package graft.sources

import graft.lql.Ast.{LqlException, Select, Source => LqlSource}
import graft.lql.Parser
import graft.store.{StateFile, Store, StoreFileIndex}
import graft.streaming.PipeService
import org.apache.spark.sql.{DataFrame, GraftColumn, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructType}

/** The `graft-store` connector: a graft [[Store]] as a Spark source, in
  * batch and in streaming mode.
  *
  * {{{
  *   spark.read.format("graft-store").option("root", root).load()
  *   spark.readStream.format("graft-store").option("root", root)
  *     .option("from", "{name=error}").load()
  * }}}
  *
  * Both modes read through the store's one read path: Spark's parquet scan
  * over the catalog file index ([[StoreFileIndex]], [[Store.relation]]) —
  * the provider shape Delta Lake's V1 source uses (a `RelationProvider`
  * plus a `StreamSourceProvider`). The index prunes partitions on `part`
  * predicates and chunks on `ts` predicates against the catalog's
  * per-chunk [minTs, maxTs]; Spark prunes columns and reads the files.
  * Pushdown only skips files: Spark re-applies every predicate.
  *
  * Batch: the relation covers the partitions the FROM selects in the
  * O(parts) catalog summaries; entries load only for the parts that pass
  * the query's partition filters, so `.where(col("part") === x)` parses
  * x's hash shard only. No directory is listed.
  *
  * Streaming ([[GraftStoreStream]]) is the Spark-native form of the
  * reference's stream-mode client loop (reference api/client.go:40-75)
  * and WriteEvent subscription (reference pkg/partition/partition.go:
  * 175-206): offsets are per-partition `seq` cursors, and each micro-batch
  * reads the catalog entries whose footer `maxSeq` exceeds the cursor —
  * discovery is O(parts) per trigger (offsets come from the persisted
  * per-part summary sidecars) and batch planning is O(changed parts' hash
  * shards), never an O(total chunks) fold or an O(total files) listing
  * (the scale property that made [[graft.streaming.PipeWorker]] drop
  * Spark's file-stream source; this source packages the same contract
  * behind the public `readStream` API, with checkpointed offsets and
  * AvailableNow/processingTime triggers for free). At the 10^7-chunk
  * design point a short-trigger pipe's poll walks ~10^4 summary lines, not
  * 10^7 entries (CatalogScaleProbe pins the budget).
  *
  * Exactly-once batch planning: an offset only includes seqs at or below
  * [[Store.safeSeqWatermark]], and any append started AFTER an offset was
  * computed takes a fresh epoch whose seqs exceed every seq visible then,
  * so the row set of `(start, end]` is stable no matter when it is planned.
  * Compaction rewrites keep row seqs (rewritten rows sit at or below the
  * cursor and are filtered out), so maintenance never re-emits. TRUNCATE
  * deletes rows by intent; the one documented edge is the pipes' cursor
  * contract: truncating an entire store and restarting the JVM reseeds
  * epochs low, stranding checkpoints above the new seqs.
  *
  * Options: `root` (required) — the store root; `from` (optional) — an LQL
  * tags source (`{k=v}` subset or a tags expression) selecting source
  * partitions driver-side, so non-matching partitions' files are never
  * read; pipe destinations (`logrange.pipe=...`) are excluded unless
  * matched explicitly by a `{logrange.pipe=<name>}` literal
  * ([[PipeService.sourceParts]], the pipes' cascade guard).
  */
final class GraftStoreSource extends DataSourceRegister with RelationProvider
    with StreamSourceProvider {
  import GraftStoreSource._

  override def shortName(): String = "graft-store"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val store = open(sqlContext.sparkSession, parameters)
    val sums = store.catalog.partSummaries()
    val parts = PipeService.sourceParts(sums.keysIterator, from(parameters),
      explicitPipe = true).sorted
    store.relation(new StoreFileIndex(store.root, parts, store.catalog.entriesForPart,
      parts.iterator.map(sums(_).sizeBytes).sum))
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    open(sqlContext.sparkSession, parameters)
    (shortName(), ReadSchema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftStoreStream(open(sqlContext.sparkSession, parameters), from(parameters))
}

object GraftStoreSource {
  /** The connector's columns: [[graft.model.Model.schema]] as the store
    * reads it. */
  val ReadSchema: StructType = Store.DataSchema.add("part", StringType)

  private def open(spark: SparkSession, parameters: Map[String, String]): Store =
    parameters.get("root").filter(_.nonEmpty) match {
      case Some(root) => new Store(spark, root)
      case None => throw LqlException("graft-store: required option 'root' is missing")
    }

  private def from(parameters: Map[String, String]): Option[LqlSource] =
    parameters.get("from").filter(_.nonEmpty).map { f =>
      new Parser(() => java.time.Instant.now()).parse(s"SELECT FROM $f LIMIT 1") match {
        case Right(s: Select) => s.source.getOrElse(
          throw LqlException(s"graft-store: empty 'from' source: $f"))
        case other => throw LqlException(s"graft-store: bad 'from' option '$f': $other")
      }
    }
}

/** The micro-batch side of the connector: a V1 streaming source whose
  * offsets are [[GraftOffset]] seq cursors. */
final class GraftStoreStream(store: Store, from: Option[LqlSource])
    extends Source with SupportsTriggerAvailableNow {

  override def schema: StructType = GraftStoreSource.ReadSchema

  /** End offset pinned at Trigger.AvailableNow start. Without this
    * contract Spark falls back to single-batch Trigger.Once semantics,
    * which never runs the trailing no-data batch — so watermark-gated
    * append output (windows, sessions) would not flush until the NEXT
    * run's data batch. */
  private var availableNowEnd: Option[GraftOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(computeLatestOffset())

  /** Highest cursor ever handed out (or replayed from a checkpoint)
    * per partition in this run. latestOffset max-merges into this, so
    * a cursor can never regress or drop out of the offset even when a
    * compaction merges a consumed file with a deferred higher-epoch
    * one while a lower-epoch append is in flight (which would
    * otherwise hide the partition behind the safe-seq watermark for a
    * trigger and re-emit consumed rows once it resolved). */
  private val floor = scala.collection.mutable.HashMap.empty[String, Long]
  private def raiseFloor(cursors: Map[String, Long]): Unit =
    floor.synchronized {
      cursors.foreach { case (p, s) =>
        if (s > floor.getOrElse(p, Long.MinValue)) floor(p) = s
      }
    }

  /** New data = catalog entries above the committed cursors, capped at
    * the safe seq watermark so a still-running lower-epoch append can
    * never be stranded below an advanced offset (the PipeWorker cursor
    * contract), and floored at every cursor previously handed out so
    * offsets are monotonic per partition. */
  private def latest(): GraftOffset = availableNowEnd.getOrElse(computeLatestOffset())
  override def getOffset: Option[Offset] = Some(latest())

  /** Admission-control form: max-merged with `start` (null before the
    * first batch), so a cursor can never regress below the last
    * committed offset even across a restart (the floor map alone only
    * covers this run). ReadLimit is ignored — a trigger always admits up
    * to the safe watermark. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur = latest().cursors
    val base = Option(start).fold(Map.empty[String, Long])(GraftOffset.of(_).cursors)
    val merged = (cur.keySet ++ base.keySet).iterator.map { p =>
      p -> math.max(cur.getOrElse(p, Long.MinValue),
        base.getOrElse(p, Long.MinValue))
    }.toMap
    GraftOffset(merged)
  }

  /** O(parts) per trigger, never O(chunks): cursors come from the
    * persisted per-part summaries ([[graft.store.Catalog.partSummaries]] —
    * the admin plane's sidecar pattern applied to discovery). The fast
    * path is one summary row per matching part: when the part's
    * summary `maxSeq` sits at or below its safe watermark (the
    * quiescent case — no in-flight append targets it), that maxSeq IS
    * the cursor. Only a part with an in-flight append above the
    * watermark (bounded by concurrent writers, not catalog size) —
    * or one whose sidecar predates the `minMaxSeq` field — falls
    * back to its OWN hash shard via [[graft.store.Catalog.entriesForPart]].
    * Reference analog: O(new writes) write-event fanout
    * (pkg/pipe/service.go:271-347). */
  private def computeLatestOffset(): GraftOffset = {
    val cur = scala.collection.mutable.HashMap.empty[String, Long]
    def seqless(p: String): Nothing =
      throw LqlException(s"graft-store: partition $p has chunks with no " +
        "footer seq; seq-less files cannot be streamed (rebuild the " +
        "store, or read it in batch mode)")
    // summaries FIRST, snapshot SECOND: the snapshot must be at least
    // as fresh as the catalog view it gates (Store.inFlightSnapshot's
    // ordering contract) — and ONE snapshot serves every part's
    // watermark, so a shared FileInFlightRegistry is listed once per
    // trigger, not once per partition
    val sums = store.catalog.partSummaries()
    val snap = Store.inFlightSnapshot(store.root)
    // replay of the per-entry cursor fold, restricted to ONE part's
    // shard — the precise path for in-flight/legacy-sidecar parts;
    // takes its own FRESH watermark after materializing the entries
    // (they may be newer than `sums`/`snap`)
    def preciseCursor(p: String): Unit = {
      val es = store.catalog.entriesForPart(p)
      val safe = Store.watermarkFrom(Store.inFlightSnapshot(store.root), Some(p))
      var best = -1L
      es.foreach { e =>
        if (e.maxSeq < 0) seqless(p)
        if (e.maxSeq <= safe && e.maxSeq > best) best = e.maxSeq
      }
      if (best >= 0) cur(p) = best
    }
    PipeService.sourceParts(sums.keysIterator, from, explicitPipe = true).foreach { p =>
      val s = sums(p)
      val safe = Store.watermarkFrom(snap, Some(p))
      if (s.minMaxSeq == Long.MinValue) preciseCursor(p)
      else if (s.minMaxSeq < 0) seqless(p)
      else if (s.maxSeq <= safe) cur(p) = s.maxSeq
      else preciseCursor(p)
    }
    floor.synchronized {
      floor.foreach { case (p, s) =>
        if (s > cur.getOrElse(p, Long.MinValue)) cur(p) = s
      }
    }
    val off = GraftOffset(cur.toMap)
    raiseFloor(off.cursors)
    off
  }

  /** O(changed parts' shards) per trigger: only parts whose cursor
    * ADVANCED (`h > l`) have their entries consulted, and each costs
    * one memoized hash shard ([[graft.store.Catalog.entriesForPart]]) —
    * an unchanged part is one map lookup. A 10^7-chunk catalog with one
    * busy partition plans from ~1/256th of the metadata.
    *
    * Each part's `(l, h]` pair rides along as two partition-value
    * constants that the batch filters rows on, then drops — so the scan
    * is the frame's only leaf and `numInputRows` is its row count (a
    * joined cursor table would count as input too). */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.fold(Map.empty[String, Long])(GraftOffset.of(_).cursors)
    val hi = GraftOffset.of(end).cursors
    // a replayed checkpoint range is also a floor (restart path)
    raiseFloor(lo); raiseFloor(hi)
    val bounds = hi.collect {
      case (p, h) if h > lo.getOrElse(p, -1L) => p -> (lo.getOrElse(p, -1L), h)
    }
    // e.maxSeq > l skips fully-consumed files (incl. compaction rewrites
    // of already-consumed rows); the row filter handles files straddling
    // the bounds. ts predicates prune FILES only — offsets still advance
    // over pruned data, so a ts-filtered stream never re-reads it later.
    val entries = bounds.iterator.flatMap { case (p, (l, _)) =>
      store.catalog.entriesForPart(p).filter(_.maxSeq > l)
    }.toSeq
    import StoreFileIndex.{HiCol, LoCol}
    GraftColumn.streamingFrame(store.spark,
        store.relation(StoreFileIndex.of(store.root, entries, Some(bounds))))
      .where(col("seq") > col(LoCol) && col("seq") <= col(HiCol))
      .drop(LoCol, HiCol)
  }

  override def commit(end: Offset): Unit = raiseFloor(GraftOffset.of(end).cursors)
  override def stop(): Unit = ()
}

/** Streaming offset: partition tag line → highest consumed `seq`. */
final case class GraftOffset(cursors: Map[String, Long]) extends Offset {
  override def json(): String =
    cursors.toSeq.sortBy(_._1).map { case (p, s) =>
      s"""{"part":"${StateFile.esc(p)}","seq":$s}"""
    }.mkString("[", ",", "]")
}

object GraftOffset {
  /** Any offset Spark hands the source: its own, or (after a restart)
    * the checkpoint's `SerializedOffset` of one. */
  def of(o: OffsetV2): GraftOffset = o match {
    case g: GraftOffset => g
    case other => fromJson(other.json())
  }

  /** Quote-aware parse of `[{"part":"...","seq":N},...]` as written by
    * [[GraftOffset.json]]: object boundaries are found by scanning with
    * in-string state ([[StateFile.esc]] escapes `"` and `\`, so a `}` /
    * `,` inside a part value — e.g. a Go-quoted tag containing "},{" —
    * never splits an entry), and each entry is one [[StateFile]] record
    * read with its keyed `str`/`num` scanner. */
  def fromJson(json: String): GraftOffset = {
    val entries = Map.newBuilder[String, Long]
    var i = 0
    var inStr = false
    var objStart = -1
    while (i < json.length) {
      val c = json.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => objStart = i
        case '}' if objStart >= 0 =>
          val obj = json.substring(objStart, i + 1)
          if (!obj.contains("\"seq\":"))
            throw LqlException(s"graft-store: bad offset entry: $obj")
          entries += StateFile.str(obj, "part") -> StateFile.num(obj, "seq", -1L)
          objStart = -1
        case _ => ()
      }
      i += 1
    }
    GraftOffset(entries.result())
  }
}
