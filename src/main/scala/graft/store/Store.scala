package graft.store

import graft.model.Model
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The canonical LogEvent store: a parquet table physically partitioned by
  * the canonical tag line (`part`), with a driver-side [[Catalog]] updated
  * at ingest from parquet footers only.
  *
  * This is the Spark re-expression of the reference's journal/partition
  * service (reference pkg/partition/partition.go:38-50):
  *   journal          → parquet directory `data/part=<tag line>`
  *   chunk            → parquet file (min/max ts from the footer replace the
  *                      reference's ~2300-LoC time index, pkg/tmindex)
  *   tindex           → [[Catalog]]
  *   Write(tags,...)  → [[Store.write]]
  *
  * Every read of chunk files — queries, pipes, compaction and the
  * `graft-store` connector — is Spark's parquet scan over a catalog file
  * list ([[StoreFileIndex]], wrapped by [[Store.relation]]): the catalog
  * names the files and prunes them by partition and footer ts range, and
  * parquet pushes `ts` filters to row groups — the same two-level pruning
  * the reference does with tindex + tmindex.
  */
object Store {
  /** Low bits of `seq` hold the within-batch row number (2^36 rows per
    * partition per append); high bits hold the per-append epoch (~134M
    * appends per store lifetime). See [[Store.assignSeq]]. */
  val SeqEpochShift = 36

  /** The columns of a chunk file: [[Model.schema]] without `part`, which
    * comes from the catalog. Nullable, as Spark reads parquet. */
  private[graft] val DataSchema: StructType = StructType(Model.schema.fields
    .filter(_.name != "part").map(_.copy(nullable = true)))

  private val epochs =
    scala.collection.concurrent.TrieMap.empty[String, EpochAllocator]

  private val epochFactories =
    scala.collection.concurrent.TrieMap.empty[String, Long => EpochAllocator]

  /** Install a non-default [[EpochAllocator]] for a store root (e.g.
    * [[FileEpochAllocator]] for multi-driver deployments). Must run
    * BEFORE the root's first seq-assigning append in this JVM — the
    * factory receives the catalog's persisted high-water epoch as its
    * seed. Installing after an allocator exists throws: swapping
    * allocators mid-life could mint epochs below ones already handed
    * out. Serialized with allocator creation on [[epochs]]' monitor so
    * an install racing the root's first append either wins (the append
    * sees the factory) or throws — it can never be silently ignored. */
  def useEpochAllocator(root: String, mk: Long => EpochAllocator): Unit =
    epochs.synchronized {
      require(!epochs.contains(root),
        s"epoch allocator for $root already active — install before first append")
      epochFactories.put(root, mk)
    }

  /** One in-flight append: start time (for the hung-append lease) and,
    * when the caller knows it, the exact set of target partitions. */
  final case class InFlight(startNanos: Long, parts: Option[Set[String]] = None)

  /** Epochs taken by [[Store.appendWithSeq]] whose append has not returned
    * yet. A higher-epoch append can REGISTER before a still-running
    * lower-epoch append to the same partition, so catalog registration
    * order does not always agree with seq order; consumers that require
    * the agreement (pipe cursors, the graft-store streaming offsets) defer
    * entries above [[Store.safeSeqWatermarkFor]] until the lower epochs
    * resolve. Entries from appends that hang past [[EpochLeaseNanos]] are
    * dropped from the watermark (documented trade: a >10-min append that
    * later completes may be skipped by a consumer that advanced
    * meanwhile). Single-partition appends (Store.write, pipe destination
    * appends) carry their target set, so only overlapping partitions
    * defer — a slow bulk load stalls nothing it doesn't touch; bulk
    * appends with unknown targets defer everything for their duration.
    *
    * This per-JVM map is the DEFAULT lease medium (every append to a
    * root flows through one driver — the documented design point);
    * multi-driver deployments install a [[FileInFlightRegistry]] via
    * [[useInFlightRegistry]] so OTHER drivers' in-flight appends defer
    * too, and every consumer folds BOTH sources through
    * [[inFlightSnapshot]]. */
  private val inFlight = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.ConcurrentHashMap[Long, InFlight]]

  /** Announced-but-unclaimed appends ([[InFlightRegistry.preBegin]]'s
    * in-JVM twin): an append sits here between lease announcement and
    * epoch claim, so a consumer snapshotting in that window defers
    * conservatively instead of advancing past an epoch that is about to
    * be claimed LOWER than entries it can already see registered. */
  private val pending = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.ConcurrentHashMap[AnyRef, InFlight]]

  private val registries =
    scala.collection.concurrent.TrieMap.empty[String, InFlightRegistry]

  /** Install a shared [[InFlightRegistry]] for a store root (multi-driver
    * deployments, alongside the [[FileEpochAllocator]]): appends in this
    * JVM lease through it, and watermarks fold its entries IN ADDITION
    * to the per-JVM map, so leases written by other drivers defer this
    * driver's consumers. Install before the root's first append. */
  def useInFlightRegistry(root: String, reg: InFlightRegistry): Unit =
    registries.put(root, reg)

  private[graft] def inFlightRegistry(root: String): Option[InFlightRegistry] =
    registries.get(root)

  /** Lease for hung in-flight epochs (10 min). */
  val EpochLeaseNanos: Long = 10L * 60 * 1000 * 1000 * 1000

  private[graft] def inFlightFor(root: String): java.util.concurrent.ConcurrentHashMap[Long, InFlight] =
    inFlight.getOrElseUpdate(root, new java.util.concurrent.ConcurrentHashMap[Long, InFlight])

  private def pendingFor(root: String): java.util.concurrent.ConcurrentHashMap[AnyRef, InFlight] =
    pending.getOrElseUpdate(root, new java.util.concurrent.ConcurrentHashMap[AnyRef, InFlight])

  /** One-call multi-driver enablement for a store root: installs the
    * [[FileEpochAllocator]] (cross-driver (part, seq) uniqueness, claim
    * files under `<root>/.epochs`) AND the [[FileInFlightRegistry]]
    * (cross-driver watermark leases under `<root>/.inflight`) — the two
    * halves of the multi-driver contract, which only hold TOGETHER.
    * Call in EVERY driver JVM that touches the root, before its first
    * seq-assigning append there (the allocator-already-active guard
    * throws otherwise). Single-driver deployments need none of this —
    * the per-JVM defaults are the documented design point. */
  def enableMultiDriver(root: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val epochDir = new Path(root, ".epochs")
    val fs = epochDir.getFileSystem(conf)
    useEpochAllocator(root, seed => new FileEpochAllocator(fs, epochDir, seed))
    useInFlightRegistry(root,
      new FileInFlightRegistry(fs, new Path(FileInFlightRegistry.dirFor(root))))
  }

  /** Highest seq known to be "stable" for a root: every append with a seq
    * at or below it has either registered or died unregistered. MaxValue
    * when nothing is in flight. */
  def safeSeqWatermark(root: String): Long =
    watermarkFrom(inFlightSnapshot(root), None)

  /** [[safeSeqWatermark]] restricted to one partition: in-flight appends
    * that declared a target set NOT containing `part` are ignored. */
  def safeSeqWatermarkFor(root: String, part: String): Long =
    watermarkFrom(inFlightSnapshot(root), Some(part))

  /** Every live in-flight lease for a root: the per-JVM map (expiring
    * hung entries in place, as before), the announced-but-unclaimed
    * pendings, and — when a shared registry is installed — other
    * drivers' leases. One snapshot serves MANY per-part watermark
    * checks ([[watermarkFrom]]): the streaming source takes one per
    * trigger instead of one registry listing per partition.
    *
    * Ordering contract for consumers: take the snapshot AFTER reading
    * the catalog state it will gate. Epochs are claimed in strictly
    * increasing order, so any in-flight epoch below a cataloged one was
    * leased before that entry registered — a later snapshot can only
    * see MORE of the leases that matter, never fewer. */
  def inFlightSnapshot(root: String): Seq[InFlightEntry] = {
    val cutoff = System.nanoTime() - EpochLeaseNanos
    val out = Seq.newBuilder[InFlightEntry]
    val m = inFlight.get(root).orNull
    if (m != null) {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.startNanos < cutoff) it.remove() // abandoned
        else out += InFlightEntry(Some(e.getKey), e.getValue.parts)
      }
    }
    val p = pending.get(root).orNull
    if (p != null) {
      val it = p.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.startNanos < cutoff) it.remove()
        else out += InFlightEntry(None, e.getValue.parts)
      }
    }
    registries.get(root).foreach(r => out ++= r.entries())
    out.result()
  }

  /** The watermark a snapshot implies for `part` (None = any part):
    * one below the smallest matching in-flight epoch's seq range;
    * -1 (defer everything) while a matching append is announced but has
    * not claimed its epoch yet — its epoch may land below entries the
    * consumer can already see; MaxValue when nothing matches. */
  def watermarkFrom(snap: Seq[InFlightEntry], part: Option[String]): Long = {
    var minEpoch = Long.MaxValue
    snap.foreach { e =>
      val relevant = part.isEmpty || e.parts.isEmpty ||
        e.parts.get.contains(part.get)
      if (relevant) e.epoch match {
        case Some(ep) => if (ep < minEpoch) minEpoch = ep
        case None => return -1L
      }
    }
    if (minEpoch == Long.MaxValue) Long.MaxValue
    else (minEpoch << SeqEpochShift) - 1
  }

  /** Drop the in-JVM epoch counter for a root (tests simulating process
    * restarts; throwaway-store cleanup). */
  private[graft] def forgetEpoch(root: String): Unit = {
    epochs.remove(root)
    inFlight.remove(root)
  }

  /** Hadoop rename returns false instead of throwing; unchecked, a failed
    * rename silently loses the batch (e.g. a catalog entry pointing at a
    * file that never arrived). */
  private[graft] def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
}

final class Store(val spark: SparkSession, val root: String) {

  val dataDir = s"$root/data"
  private val conf = spark.sparkContext.hadoopConfiguration
  val catalog: Catalog = Catalog(conf, root)
  private def fs: FileSystem = new Path(root).getFileSystem(conf)

  /** Ingest a batch for one tag set — the `Ingestor.Write(tags, fields,
    * events)` equivalent (reference api/ingestor.go:21-31): shared `fields`
    * are stamped on every record (record fields win — the reference merges
    * with record fields taking precedence via MergeWithMap semantics).
    *
    * @param events columns: ts (Long ns), msg (String),
    *               optional fields (Map), optional seq (Long)
    */
  def write(tags: Map[String, String], fields: Map[String, String], events: DataFrame): Unit = {
    val line = Model.tagLine(tags)
    var df = events
    if (!df.columns.contains("fields"))
      df = df.withColumn("fields", map().cast("map<string,string>"))
    if (fields.nonEmpty) {
      val shared = map(fields.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      // record fields override shared fields on key clash
      df = df.withColumn("fields", map_concat_safe(shared, col("fields")))
    }
    df = df.withColumn("part", lit(line))
    if (df.columns.contains("seq")) append(df)
    else appendWithSeq(df, partsHint = Some(Set(line)))
  }

  /** Stamp a fresh `seq` on rows that already carry `part`: a dense per-part
    * row number in the low [[Store.SeqEpochShift]] bits under a per-batch
    * epoch allocated atomically per store root. Two concurrent writers to the same partition
    * (a pipe's streaming append racing a foreground ingest) take distinct
    * epochs, so (part, seq) cannot collide — the read-high-water-then-append
    * race is structurally gone — while later epochs still sort after earlier
    * ones, keeping continuation tokens paging in append order. The epoch
    * counter starts above the catalog's persisted high-water mark, so it also
    * survives process restarts. Epochs come from the root's
    * [[EpochAllocator]]: the [[JvmEpochAllocator]] default matches the
    * single-driver design point (every append to a root flows through one
    * driver); multi-driver deployments install a shared-sequence
    * implementation ([[FileEpochAllocator]], or a metastore sequence with
    * the same contract) via [[Store.useEpochAllocator]]. Bulk loads using
    * `append(saltBuckets > 1)` should supply their own seq (a source row id,
    * as EventStore does) — the dense row number here serializes each part
    * into one window task.
    *
    * Intra-batch order is RETRY-STABLE: when the caller supplies source-row
    * identity columns via `orderBy` (the collector's (file, line-index),
    * a pipe's source (part, seq)), those define the order; otherwise rows
    * order by CONTENT — (ts, msg, sorted field entries) — so a stage retry
    * with nondeterministically-ordered upstream output assigns the same
    * (row content → seq) mapping every time. The previous
    * monotonically_increasing_id arrival stamp could permute ties on such
    * a retry before first write (same hazard class TemporalJoins'
    * interval identity fix removed). Full-content duplicate rows remain
    * interchangeable — any tie order yields the same written multiset. */
  def assignSeq(rows: DataFrame, orderBy: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    assignSeqEpoch(epochAllocator.next(), rows, orderBy)

  private def assignSeqEpoch(epoch: Long, rows: DataFrame,
      orderBy: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val ord =
      if (orderBy.nonEmpty) orderBy
      else col("ts") +: col("msg") +:
        (if (rows.columns.contains("fields"))
          Seq(array_sort(map_entries(col("fields")))) else Nil)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy(ord: _*)
    rows.withColumn("seq",
      lit(epoch << Store.SeqEpochShift) + row_number().over(w).cast("long") - 1L)
  }

  /** [[assignSeq]] + [[append]] with registration-order tracking: the
    * allocated epoch is in flight (see [[Store.safeSeqWatermark]]) from
    * allocation until the append returns — registered, empty, or failed
    * clean — so pipe cursors can tell "registered later because nothing
    * was there" from "registered later because a lower-epoch append was
    * still running". All seq-assigning ingest paths (write, collector,
    * pipe destinations) go through here.
    *
    * The seq window clusters the rows by `part`, so they go straight to
    * the staged write without [[append]]'s repartition. A driver-local
    * batch (its optimized plan is a `LocalRelation`, as [[write]]'s events
    * are) is first coalesced to one partition: its rows already sit in
    * driver memory, so one task is no funnel, and the window and the write
    * then run in one stage with no exchange, as they do for any input
    * planned as one partition (the collector coalesces its one-file
    * batch, which one tail task reads anyway). Every
    * other input (a pipe trigger, a bulk load) keeps the window's one
    * exchange on `part`.
    *
    * @param partsHint the exact target partitions when the caller knows
    *        them (single-tag writes, pipe destinations): consumers then
    *        defer only on those; None (path-derived/bulk targets) defers
    *        every partition for the append's duration. */
  def appendWithSeq(rows: DataFrame, maxRecordsPerFile: Long = 0,
      saltBuckets: Int = 1, partsHint: Option[Set[String]] = None,
      orderBy: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    // lease protocol: ANNOUNCE before claiming the epoch (see the
    // InFlightRegistry contract — a lease appearing only after its claim
    // could be invisible to a consumer that already saw a higher
    // registered epoch), then upgrade the announcement with the epoch
    val ext = Store.inFlightRegistry(root)
    val preTok: AnyRef = ext match {
      case Some(r) => r.preBegin(partsHint)
      case None =>
        val tok = new Object
        Store.pendingFor(root).put(tok, Store.InFlight(System.nanoTime(), partsHint))
        tok
    }
    // a failed claim/begin must release the announcement — a dead pre
    // lease would otherwise defer its targets for the whole 10-min lease
    val epoch =
      try {
        val e = epochAllocator.next()
        ext match {
          case Some(r) =>
            r.begin(e, partsHint, preTok)
          case None =>
            Store.inFlightFor(root).put(e, Store.InFlight(System.nanoTime(), partsHint))
            Store.pendingFor(root).remove(preTok)
        }
        e
      } catch {
        case t: Throwable =>
          ext match {
            case Some(r) => r.abort(preTok)
            case None => Store.pendingFor(root).remove(preTok)
          }
          throw t
      }
    try {
      if (saltBuckets > 1) append(assignSeqEpoch(epoch, rows, orderBy), maxRecordsPerFile, saltBuckets)
      else {
        val local = rows.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
        writeStaged(assignSeqEpoch(epoch, if (local) rows.coalesce(1) else rows, orderBy),
          maxRecordsPerFile)
      }
    } finally ext match {
      case Some(r) => r.end(epoch)
      case None => Store.inFlightFor(root).remove(epoch)
    }
  }

  private def epochAllocator: EpochAllocator =
    Store.epochs.get(root).getOrElse(Store.epochs.synchronized {
      // creation serialized with useEpochAllocator (same monitor): the
      // factory check and the insert are one atomic step, so an install
      // can never slip between them and be silently ignored. Steady
      // state stays lock-free on the get above.
      Store.epochs.getOrElseUpdate(root, {
        // high-water from the O(parts) summaries — opening a 10^7-chunk
        // store must not pay a full catalog parse to allocate its first epoch
        val hw = catalog.partSummaries().valuesIterator
          .foldLeft(-1L)((m, ps) => math.max(m, ps.maxSeq))
        val seed = hw >> Store.SeqEpochShift
        Store.epochFactories.get(root) match {
          case Some(mk) => mk(seed)
          case None => new JvmEpochAllocator(seed)
        }
      })
    })

  /** Seq high-water mark of a partition (-1 when empty/unknown), from the
    * catalog's per-file footer stats. */
  def maxSeq(line: String): Long = {
    val entries = catalog.entriesForPart(line)
    if (entries.isEmpty) -1L else entries.map(_.maxSeq).max
  }

  /** map_concat with right-side precedence (map_concat rejects duplicate
    * keys at runtime); implemented via entry arrays + map_from_entries. */
  private def map_concat_safe(left: org.apache.spark.sql.Column, right: org.apache.spark.sql.Column) = {
    val l = map_entries(left)
    val r = map_entries(right)
    val lFiltered = filter(l, e => !array_contains(map_keys(right), e.getField("key")))
    map_from_entries(concat(lFiltered, r))
  }

  /** Append rows that already carry a `part` column (bulk ingest across many
    * tag sets in one pass). Writes ts-sorted within each physical partition.
    *
    * Staged: the Spark job writes into a private staging directory, then
    * files are renamed into the table and registered in the catalog. This
    * makes concurrent appends safe (direct writes into one root share the
    * committer's `_temporary` dir — two jobs corrupt each other, e.g. a
    * pipe's streaming append racing a foreground ingest) and the set of
    * added files is known exactly instead of diffing directory listings.
    * Same write-then-commit shape a transaction log would use at 100 TB.
    *
    * Every input pays one exchange on `part` (Spark drops it when the rows
    * are already hash-clustered on `part`), so no batch funnels through
    * one task whatever its size; [[appendWithSeq]] is the path that can
    * write a driver-local batch in one stage.
    *
    * @param saltBuckets ingest parallelism per tag partition: 1 (default)
    *        keeps one writer task per partition — one ts-sorted file per
    *        batch, tightest chunk pruning; N>1 spreads a HOT partition's
    *        batch over N tasks/files (seq-hash salt) so a single loud tag
    *        set no longer serializes ingest — the files' ts ranges overlap
    *        within the batch, which widens chunk pruning but changes no
    *        query result. At the 100 TB design point bulk loads use N>1.
    */
  def append(rows: DataFrame, maxRecordsPerFile: Long = 0, saltBuckets: Int = 1): Unit = {
    val selected = rows.select(writeCols: _*)
    writeStaged(
      if (saltBuckets <= 1) selected.repartition(col("part"))
      else
        // range partitioning on (part, salt) with an explicit count maps
        // salt slices 1:1 onto tasks (hash could collide them; AQE can't
        // coalesce an explicit count)
        selected.repartitionByRange(saltBuckets,
          col("part"), pmod(xxhash64(col("seq")), lit(saltBuckets))),
      maxRecordsPerFile)
  }

  private val writeCols = Seq("ts", "msg", "fields", "seq", "part").map(col)

  /** The staged write under [[append]] for rows already clustered by
    * `part` (each part's rows in one task, or in the salt tasks [[append]]
    * chose): sort within each task, write into staging, move, register.
    * Adds no exchange of its own. */
  private def writeStaged(clustered: DataFrame, maxRecordsPerFile: Long): Unit = {
    val stagingId = java.util.UUID.randomUUID().toString.take(12)
    val stagingDir = new Path(s"$root/staging/$stagingId")
    val w = clustered.select(writeCols: _*)
      .sortWithinPartitions("part", "ts", "seq")
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("part")
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .parquet(stagingDir.toString)
    registerFiles(moveStaged(stagingDir))
  }

  /** Rename the parquet files a staged `partitionBy("part")` write left
    * under `stagingDir` into their `data/part=…` directories, then drop
    * the staging dir. Returns the moved files' destinations, which the
    * caller registers in the catalog. */
  private def moveStaged(stagingDir: Path): Seq[Path] = {
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    if (fs.exists(stagingDir)) {
      fs.listStatus(stagingDir).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("part=")) {
          val dest = new Path(dataDir, st.getPath.getName)
          fs.mkdirs(dest)
          fs.listStatus(st.getPath).foreach { f =>
            val name = f.getPath.getName
            if (f.isFile && name.endsWith(".parquet") && !name.startsWith("_")) {
              val destFile = new Path(dest, name)
              Store.renameOrThrow(fs, f.getPath, destFile)
              moved += destFile
            }
          }
        }
      }
      fs.delete(stagingDir, true)
    }
    moved.toSeq
  }

  /** Compact a partition's chunk files into ~`targetFileBytes` outputs,
    * preserving the (ts, seq) sort per file. Pipes append one file per
    * micro-batch, so long-lived destination partitions otherwise grow
    * unbounded file counts — the 100 TB file-count bomb. The swap is
    * atomic at the catalog: ONE `catalog.save` replaces the old entries
    * with the new ones, so a crash on either side leaves only unreferenced
    * garbage files (collected by the final delete on the next compact),
    * never double-referenced rows. Readers take file lists from the
    * catalog, so in-flight queries planned before the swap still read the
    * old files until the delete. Returns the new file count (0 = no-op).
    *
    * Safe to run on a pipe SOURCE partition while pipes are active: the
    * rewrite preserves every row's `seq`, and pipe workers discover work by
    * footer maxSeq vs their cursor, so rewritten files of already-piped data
    * sit at/below the cursor and are never reprocessed; a worker that
    * planned an old file before the swap retries against the fresh catalog
    * (see [[graft.streaming.PipeWorker]]).
    */
  def compact(line: String, targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val entries = catalog.entriesForPart(line)
    if (entries.size <= 1) return 0
    val files = entries.map(_.file)
    val totalBytes = entries.map(_.sizeBytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = readEntries(entries)
    val stagingDir = new Path(s"$root/staging/${java.util.UUID.randomUUID().toString.take(12)}")
    df.repartitionByRange(nOut, col("ts"), col("seq"))
      .sortWithinPartitions("ts", "seq")
      .write.mode(SaveMode.Overwrite).partitionBy("part")
      .parquet(stagingDir.toString)
    val moved = moveStaged(stagingDir)
    catalog.replace(files.toSet, entriesFor(moved))
    files.foreach(f => fs.delete(new Path(f), false))
    moved.size
  }

  /** Register files in the catalog using parquet footer metadata only
    * (records + min/max ts per file) — the ingest-path analogue of the
    * reference's onWriteCIndex time-index update
    * (reference pkg/partition/partition.go:175-206). */
  private def registerFiles(files: Seq[Path]): Unit =
    if (files.nonEmpty) catalog.append(entriesFor(files))

  /** Footer-only catalog entries for data files (records, min/max ts,
    * max seq — the data is never re-read). */
  private def entriesFor(files: Seq[Path]): Seq[CatEntry] = {
    val nowNs = System.currentTimeMillis() * 1000000L
    val entries = files.map { p =>
      val part = partFromPath(p)
      val status = fs.getFileStatus(p)
      val footer = ParquetFileReader.readFooter(
        HadoopInputFile.fromPath(p, conf), org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      var records = 0L
      var minTs = Long.MaxValue
      var maxTs = Long.MinValue
      var maxSeq = -1L
      footer.getBlocks.forEach { b =>
        records += b.getRowCount
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (name == "ts" || name == "seq") {
            val st = c.getStatistics
            if (st != null && !st.isEmpty) {
              (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  if (name == "ts") {
                    if (lo < minTs) minTs = lo
                    if (hi > maxTs) maxTs = hi
                  } else if (hi > maxSeq) maxSeq = hi
                case _ => ()
              }
            }
          }
        }
      }
      if (minTs == Long.MaxValue) { minTs = 0; maxTs = 0 }
      CatEntry(part, p.toString, records, status.getLen, minTs, maxTs, nowNs, maxSeq)
    }
    entries
  }

  /** Decode the tag line from `.../part=<escaped>/file.parquet`. Must invert
    * exactly Spark's partition-path escaping (%XX only — URLDecoder would
    * additionally map '+' to space and corrupt tag lines containing '+'). */
  private def partFromPath(p: Path): String = {
    val dir = p.getParent.getName
    val idx = dir.indexOf('=')
    val raw = if (idx >= 0) dir.substring(idx + 1) else dir
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw)
  }

  /** All partitions (tag line → parsed tags) known to the catalog —
    * summary-backed (O(parts)): FROM-subset resolution at 10^7 chunks
    * reads sidecars, not the base. */
  def partitions(): Map[String, Map[String, String]] =
    catalog.partSummaries().keysIterator.map { line =>
      line -> Model.parseTags(line).getOrElse(Map.empty)
    }.toMap

  /** Read the given partitions, optionally bounded to an inclusive ts
    * range. The entries are resolved from the catalog when called, and
    * files whose footer [minTs, maxTs] doesn't overlap the range are never
    * opened (the reference's tindex + tmindex two-level pruning): at
    * 100 TB the read cost is proportional to the chunks a query actually
    * touches, with no filesystem listing at all. Callers still apply the
    * range as a row filter — file pruning is a superset. */
  def read(parts: Seq[String], tsRange: Option[(Long, Long)] = None): DataFrame = {
    // per-part sharded prune: cost tracks the selected parts' chunks plus
    // un-compacted segments, never the total catalog size
    val idx = catalog.entriesForParts(parts.distinct)
    readEntries(idx.valuesIterator.flatten
      .filter(e => tsRange.forall { case (lo, hi) => e.overlaps(lo, hi) }).toSeq)
  }

  /** Rows of exactly these catalog entries (`part` from the catalog). */
  private[graft] def readEntries(entries: Seq[CatEntry]): DataFrame =
    spark.baseRelationToDataFrame(relation(StoreFileIndex.of(root, entries)))

  /** The one way to read catalog files: Spark's built-in parquet scan over
    * a [[StoreFileIndex]]. Columns are [[Model.schema]]'s order, plus the
    * index's cursor columns when it has them. */
  private[graft] def relation(index: StoreFileIndex): HadoopFsRelation =
    HadoopFsRelation(index, index.partitionSchema, Store.DataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)

  /** Delete a set of files (TRUNCATE path) and drop them from the catalog.
    * Emptied partition directories stay: nothing lists `data/`, and a
    * sweep of directories missing from the catalog would also delete a
    * file a concurrent [[append]] has renamed in but not yet registered. */
  def deleteFiles(paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    paths.foreach(p => fs.delete(new Path(p), false))
    catalog.replace(paths.toSet, Nil)
  }
}
