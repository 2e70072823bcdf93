package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Partitions catalog — the Spark analogue of the reference's tag index
  * (reference pkg/tindex/inmem.go:36-66) plus per-chunk stats
  * (reference pkg/partition/partition.go:353-403): one entry per parquet
  * file with record count, byte size, min/max `ts` and max `seq` taken from
  * the parquet footer at ingest time (metadata-only; the data is never
  * re-read).
  *
  * Layout on disk (all JSON-lines):
  *   catalog.jsonl.shards/shard-NN.jsonl — compacted base, sharded by a
  *                          stable hash of the part line ([[Catalog.shardOf]])
  *   catalog.jsonl.d/     — append segments, one file per ingest batch
  *   catalog.jsonl.shards.bak/ — previous base, kept during compaction
  *   catalog.jsonl[.bak]  — legacy single-file base (still readable; the
  *                          first [[save]] migrates it to the sharded form)
  *
  * Durability/scale properties (vs the naive single-file rewrite):
  *  - [[append]] writes ONE new segment file (tmp → rename) — O(batch), not
  *    O(catalog); ingesting N batches costs O(N) total.
  *  - [[save]] (compaction / whole-catalog replace) never has a window with
  *    no readable base: the tmp dir is fully written first, the old base
  *    survives as `.shards.bak` until the new base is in place, and reads
  *    fall back to `.shards.bak` (then the legacy file) when the base is
  *    missing.
  *  - **Single-part reads are independent of total chunk count**:
  *    [[entriesForPart]] parses only the part's hash shard (1/64th of the
  *    base) plus the append segments (O(batches since last compaction)),
  *    so a query whose FROM resolves to exact partitions never pays the
  *    million-chunk full parse. [[load]] remains the full-scan path for
  *    per-chunk maintenance (compaction rewrite).
  *  - **Admin queries are independent of total chunk count too**: [[save]]
  *    persists per-shard PART-LEVEL summary sidecars (`shard-NNN.sum`)
  *    atomically with the base, and [[partSummaries]] serves SHOW
  *    PARTITIONS (rows + totals), the epoch high-water, TRUNCATE's
  *    partition selection and pipe source discovery from O(parts) sidecar
  *    lines plus the un-compacted segments — measured 482 ms cold vs
  *    7.8 s full load at 10^7 entries (CatalogScaleProbe budget: 2 s).
  *  - Both paths memoize against a (path,len,mtime) fingerprint of exactly
  *    the files they read, so repeated queries re-parse nothing until the
  *    catalog actually changes (also picks up cross-JVM changes).
  *  - Entries are keyed by data-file path; readers keep the newest entry
  *    per file, which makes a crash between base-swap and segment cleanup
  *    harmless (duplicates collapse).
  *
  * At the 100 TB design point this would be a Delta/metastore table, but the
  * access pattern (prune on tiny per-part metadata first, then scan) is
  * identical, and the shard math gives the same O(selected work) driver
  * cost: CatalogScaleProbe holds the per-part cold path under its budget at
  * 10^7 entries, where the full parse is 100× a shard.
  */
final case class CatEntry(
    part: String,      // canonical tag line
    file: String,      // absolute file path
    records: Long,
    sizeBytes: Long,
    minTs: Long,
    maxTs: Long,
    writeTs: Long,     // wall-clock ns when the entry was added (ingest order)
    maxSeq: Long = -1L) { // max seq in the file (footer stats); -1 = unknown

  /** Whether the chunk's `[minTs, maxTs]` meets the inclusive `[lo, hi]`:
    * a chunk wholly outside the range holds no row in it. */
  def overlaps(lo: Long, hi: Long): Boolean = maxTs >= lo && minTs <= hi
}

/** Per-partition aggregate served by [[Catalog.partSummaries]]: the
  * admin-plane view (SHOW PARTITIONS, totals, the epoch high-water,
  * TRUNCATE's partition selection) and the streaming source's O(parts)
  * offset discovery — O(parts) to read, never O(chunks).
  * Persisted as per-shard sidecars written atomically with the base.
  *
  * `minMaxSeq` is the MINIMUM per-chunk footer maxSeq across the part's
  * files: the streaming source uses it to detect seq-less (legacy)
  * chunks without touching per-chunk entries — `minMaxSeq >= 0` proves
  * every chunk is streamable. [[Long.MinValue]] means UNKNOWN (a
  * sidecar written before the field existed); readers needing the
  * distinction fall back to that part's [[Catalog.entriesForPart]]
  * shard, and the next [[Catalog.save]] rewrites the sidecar with the
  * real value. */
final case class PartSummary(
    part: String,
    chunks: Long,
    sizeBytes: Long,
    records: Long,
    maxSeq: Long,
    maxWriteTs: Long,
    minMaxSeq: Long = Long.MinValue)

final class Catalog(fs: FileSystem, path: Path) {

  private val segDir = new Path(path.getParent, path.getName + ".d")
  private val shardsDir = new Path(path.getParent, path.getName + ".shards")
  private val shardsBak = new Path(path.getParent, path.getName + ".shards.bak")
  private val bakPath = new Path(path.getParent, path.getName + ".bak")

  // (fingerprint of on-disk state, parsed entries, per-part index)
  @volatile private var cache: (String, Vector[CatEntry], Map[String, Vector[CatEntry]]) = null
  // shard id → (fingerprint of that shard's files, per-part index of the shard)
  private val shardCache =
    scala.collection.concurrent.TrieMap.empty[Int, (String, Map[String, Vector[CatEntry]])]
  // (fingerprint of all segment files, segment entries bucketed by shard) —
  // segments are parsed ONCE and shared across shard reads; their resident
  // size is O(batches since last compaction), bounded by the compaction
  // cadence, never by total catalog size
  @volatile private var segCache: (String, Array[Vector[CatEntry]]) = null

  /** The directory holding the current sharded base, if any (`.shards`
    * preferred; `.shards.bak` covers the compaction crash window). */
  private def liveShardsDir(): Option[Path] =
    if (fs.exists(shardsDir)) Some(shardsDir)
    else if (fs.exists(shardsBak)) Some(shardsBak)
    else None

  private def shardFilesIn(dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".jsonl"))
      .sortBy(_.getPath.getName)

  /** Base files for a full scan: all shards, or the legacy single file. */
  private def baseFiles(): Seq[FileStatus] = liveShardsDir() match {
    case Some(dir) => shardFilesIn(dir)
    case None =>
      if (fs.exists(path)) Seq(fs.getFileStatus(path))
      else if (fs.exists(bakPath)) Seq(fs.getFileStatus(bakPath))
      else Nil
  }

  /** Base files a single shard's read must parse: just that shard file in
    * the sharded layout; the whole legacy file otherwise (compat path —
    * migrated away by the first [[save]]). */
  private def baseFilesForShard(s: Int): Seq[FileStatus] = liveShardsDir() match {
    case Some(dir) =>
      val p = new Path(dir, Catalog.shardFileName(s))
      if (fs.exists(p)) Seq(fs.getFileStatus(p)) else Nil
    case None => baseFiles()
  }

  // (fingerprint of consumed.txt, parsed name set) — the hot query path
  // re-checks this file on every segment listing, so cache the parse
  // against the same (path,len,mtime) scheme as everything else here
  @volatile private var consumedCache: (String, Set[String]) = ("", Set.empty)

  /** Segment names the live base already folded in ([[save]]'s
    * consumed-list): entries in them are duplicates at best and
    * caller-dropped (replace/TRUNCATE) at worst, so readers skip them —
    * they only exist during the crash window before segment cleanup. */
  private def consumedSegNames(): Set[String] = liveShardsDir() match {
    case Some(dir) =>
      val p = new Path(dir, Catalog.ConsumedName)
      if (!fs.exists(p)) Set.empty
      else {
        val fp = fingerprint(Seq(fs.getFileStatus(p)))
        val c = consumedCache
        if (c._1 == fp) return c._2
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val names = txt.linesIterator.filter(_.nonEmpty).toSet
        consumedCache = (fp, names)
        names
      }
    case None => Set.empty
  }

  private def segFiles(): Seq[FileStatus] = {
    if (!fs.exists(segDir)) return Nil
    val consumed = consumedSegNames()
    fs.listStatus(segDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".jsonl") &&
        !consumed.contains(st.getPath.getName))
      .sortBy(_.getPath.getName)
  }

  private def fingerprint(files: Seq[FileStatus]): String =
    files.map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}").mkString(";")

  // per-file parse memo keyed by file identity+fingerprint: an appended
  // segment invalidates the assembled load()/shard memos (their combined
  // fingerprint changes), but every UNCHANGED file's parse is reused — a
  // pipe trigger that appended one batch re-PARSES O(batch), not O(N)
  // (~45% off a 10^6-entry reload; the collapse/sort/index assemble step
  // remains O(N) — part of the documented full-view boundary alongside
  // the admin-path budgets). Bounded: full loads evict keys whose files
  // were compacted away.
  private val fileCache =
    scala.collection.concurrent.TrieMap.empty[String, Vector[CatEntry]]

  private def parseCached(st: FileStatus): Vector[CatEntry] = {
    val key = fingerprint(Seq(st))
    fileCache.get(key) match {
      case Some(v) => v
      case None =>
        val buf = Vector.newBuilder[CatEntry]
        parseInto(st, buf)
        val v = buf.result()
        fileCache.put(key, v)
        v
    }
  }

  /** Drop cached parses whose files are gone/changed (post-compaction). */
  private def pruneFileCache(live: Seq[FileStatus]): Unit = {
    val keep = live.map(st => fingerprint(Seq(st))).toSet
    fileCache.keysIterator.foreach(k => if (!keep.contains(k)) fileCache.remove(k))
  }

  private def parseAll(files: Seq[FileStatus]): Seq[CatEntry] = {
    // per-file memoized; the misses parse in parallel — one task per file,
    // results concatenated in file order so the output is deterministic
    val misses = files.filterNot(st => fileCache.contains(fingerprint(Seq(st))))
    if (misses.lengthCompare(1) > 0) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(misses.size, Catalog.ParseThreads))
      try misses.foreach { st =>
        pool.submit(new Runnable { def run(): Unit = parseCached(st) })
      } finally { pool.shutdown(); pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES) }
    }
    files.flatMap(parseCached)
  }

  private def parseInto(st: FileStatus, buf: scala.collection.mutable.Growable[CatEntry]): Unit = {
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(st.getPath), StandardCharsets.UTF_8), 1 << 16)
    try {
      var line = rd.readLine()
      while (line != null) {
        if (line.nonEmpty) buf += decode(line)
        line = rd.readLine()
      }
    } finally rd.close()
  }

  /** newest entry per data file wins (crash-residue duplicates collapse).
    *
    * Implemented as two stable parallel merge sorts + linear run-scans
    * instead of `groupBy(_.file).maxBy(_.writeTs)` + `sortBy`: the
    * semantics are identical (stable sort by file preserves parse order
    * within a file's duplicates, and the strict `>` keeps the FIRST
    * max-writeTs entry exactly as `maxBy` does; the final key
    * (part, writeTs, file) is unique post-collapse so stability there is
    * moot), but at the 10^7-entry probe scale this path is the admin-load
    * bottleneck and the hash-free form parallelizes across cores. */
  private def collapse(raw: Seq[CatEntry]): Vector[CatEntry] = {
    val arr = raw.toArray
    if (arr.length > 1) java.util.Arrays.parallelSort(arr, Catalog.FileOrd)
    val out = new scala.collection.mutable.ArrayBuffer[CatEntry](math.min(arr.length, 1 << 16))
    var i = 0
    while (i < arr.length) {
      var best = arr(i)
      var k = i + 1
      while (k < arr.length && arr(k).file == arr(i).file) {
        if (arr(k).writeTs > best.writeTs) best = arr(k)
        k += 1
      }
      out += best
      i = k
    }
    val res = out.toArray
    if (res.length > 1) java.util.Arrays.parallelSort(res, Catalog.EntryOrd)
    res.toVector
  }

  /** Per-part index of a [[collapse]]d vector. Entries arrive sorted by
    * (part, writeTs, file), so each part is one contiguous run — a single
    * linear slice pass builds the same map `groupBy(_.part)` would
    * (sharing the entry objects), without re-hashing every entry. */
  private def indexByPart(entries: Vector[CatEntry]): Map[String, Vector[CatEntry]] = {
    val b = Map.newBuilder[String, Vector[CatEntry]]
    var i = 0
    while (i < entries.length) {
      val p = entries(i).part
      var k = i + 1
      while (k < entries.length && entries(k).part == p) k += 1
      b += p -> entries.slice(i, k)
      i = k
    }
    b.result()
  }

  def load(): Vector[CatEntry] = loadWithIndex()._1

  /** Entries grouped by part line, memoized with [[load]] under the same
    * fingerprint. Full-scan callers (SHOW PARTITIONS) share one parse;
    * exact-part callers should prefer [[entriesForPart]], which never
    * parses more than one shard. */
  def partIndex(): Map[String, Vector[CatEntry]] = loadWithIndex()._2

  private def loadWithIndex(): (Vector[CatEntry], Map[String, Vector[CatEntry]]) = {
    val files = baseFiles() ++ segFiles()
    val fp = fingerprint(files)
    val c = cache
    if (c != null && c._1 == fp) return (c._2, c._3)
    val entries = collapse(parseAll(files))
    // the full view sees every live file — the one safe place to evict
    // parses of compacted-away files (subset callers must not prune)
    pruneFileCache(files)
    // index shares the entry objects with the vector (one parse, two views)
    val idx = indexByPart(entries)
    cache = (fp, entries, idx)
    (entries, idx)
  }

  /** All catalog entries for one part line — the query-path prune. Parses
    * only the part's hash shard plus the append segments, so its cost is
    * O(chunks-per-shard + un-compacted batches), independent of total
    * catalog size; memoized per shard under the same fingerprint scheme as
    * [[load]]. */
  def entriesForPart(part: String): Vector[CatEntry] = {
    val full = cache
    if (full != null && full._1 == fingerprint(baseFiles() ++ segFiles()))
      return full._3.getOrElse(part, Vector.empty)
    shardIndex(Catalog.shardOf(part)).getOrElse(part, Vector.empty)
  }

  /** [[entriesForPart]] over a part set; parts in one shard share a parse. */
  def entriesForParts(parts: Iterable[String]): Map[String, Vector[CatEntry]] =
    parts.iterator.map(p => p -> entriesForPart(p)).toMap

  // (fingerprint of sidecars+base+segments, part → summary)
  @volatile private var sumCache: (String, Map[String, PartSummary]) = null

  /** Per-part summaries for the ADMIN plane — SHOW PARTITIONS (rows and
    * totals), the epoch high-water, TRUNCATE's partition selection.
    * Reads the per-shard sidecars [[save]] persists (O(parts) lines)
    * plus the un-compacted append segments (O(batches since last
    * compaction)) — never the O(chunks) base, so a 10^7-chunk store's
    * admin queries stay inside the driver budget (CatalogScaleProbe).
    * A base shard without a sidecar (legacy layout, or a base written
    * before summaries existed) falls back to parsing just that shard. */
  def partSummaries(): Map[String, PartSummary] = {
    val baseF = baseFiles()
    val segF = segFiles()
    val sumF = liveShardsDir() match {
      case Some(dir) => (0 until Catalog.Shards).flatMap { s =>
        val p = new Path(dir, Catalog.sumFileName(s))
        if (fs.exists(p)) Some(fs.getFileStatus(p)) else None
      }
      case None => Nil
    }
    val fp = fingerprint(baseF ++ sumF ++ segF)
    val c = sumCache
    if (c != null && c._1 == fp) return c._2
    val agg = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]
    // a(5) = minMaxSeq, folded by MIN with Long.MinValue = UNKNOWN
    // dominating (min(MinValue, x) = MinValue), so one stale sidecar
    // marks the whole part unknown rather than faking a proven floor
    def fold(p: String, chunks: Long, size: Long, recs: Long, mseq: Long,
        mwts: Long, minMseq: Long): Unit = {
      val a = agg.getOrElseUpdate(p,
        Array(0L, 0L, 0L, Long.MinValue, Long.MinValue, Long.MaxValue))
      a(0) += chunks; a(1) += size; a(2) += recs
      if (mseq > a(3)) a(3) = mseq
      if (mwts > a(4)) a(4) = mwts
      if (minMseq < a(5)) a(5) = minMseq
    }
    liveShardsDir() match {
      case Some(dir) =>
        shardFilesIn(dir).foreach { st =>
          val s = Catalog.shardIdOf(st.getPath.getName)
          val sp = new Path(dir, Catalog.sumFileName(s))
          if (s >= 0 && fs.exists(sp)) {
            val rd = new java.io.BufferedReader(
              new java.io.InputStreamReader(fs.open(sp), StandardCharsets.UTF_8), 1 << 16)
            try {
              var line = rd.readLine()
              while (line != null) {
                if (line.nonEmpty) {
                  val ps = decodeSum(line)
                  fold(ps.part, ps.chunks, ps.sizeBytes, ps.records,
                    ps.maxSeq, ps.maxWriteTs, ps.minMaxSeq)
                }
                line = rd.readLine()
              }
            } finally rd.close()
          } else
            // sidecar missing (pre-summary base): one-shard fallback parse
            parseCached(st).foreach(e =>
              fold(e.part, 1L, e.sizeBytes, e.records, e.maxSeq, e.writeTs,
                e.maxSeq))
        }
      case None =>
        // legacy single-file base — full parse (migrated by the first save)
        parseAll(baseF).foreach(e =>
          fold(e.part, 1L, e.sizeBytes, e.records, e.maxSeq, e.writeTs,
            e.maxSeq))
    }
    // overlay the live segments: append() only ever adds NEW data files
    // (replace/compaction go through save(), which rewrites the sidecars),
    // so the overlay is purely additive; collapse() still dedups
    // crash-residue duplicates by file exactly as the full load does
    collapse(segByShard()._2.flatten.toVector).foreach(e =>
      fold(e.part, 1L, e.sizeBytes, e.records, e.maxSeq, e.writeTs, e.maxSeq))
    val out = agg.iterator.map { case (p, a) =>
      p -> PartSummary(p, a(0), a(1), a(2), a(3), a(4), a(5))
    }.toMap
    sumCache = (fp, out)
    out
  }

  private def segByShard(): (String, Array[Vector[CatEntry]]) = {
    val files = segFiles()
    val fp = fingerprint(files)
    val c = segCache
    if (c != null && c._1 == fp) return c
    val buckets = Array.fill(Catalog.Shards)(Vector.newBuilder[CatEntry])
    // per-file memoized parse: after an append only the NEW segment
    // parses; the rest re-bucket from cache (routing is cheap, parsing
    // was the cost)
    parseAll(files).foreach(e => buckets(Catalog.shardOf(e.part)) += e)
    val fresh = (fp, buckets.map(_.result()))
    segCache = fresh
    fresh
  }

  private def shardIndex(s: Int): Map[String, Vector[CatEntry]] = {
    val baseF = baseFilesForShard(s)
    val (segFp, segBuckets) = segByShard()
    val fp = fingerprint(baseF) + "|" + segFp
    shardCache.get(s) match {
      case Some((f, idx)) if f == fp => return idx
      case _ =>
    }
    // the legacy single-file base holds every part; a v2 shard file holds
    // only this shard's, making the filter a no-op there
    val raw = parseAll(baseF).filter(e => Catalog.shardOf(e.part) == s) ++ segBuckets(s)
    val idx = indexByPart(collapse(raw))
    shardCache.put(s, (fp, idx))
    idx
  }

  private val lock = Catalog.lockFor(path.toString)

  private def invalidate(): Unit = { cache = null; shardCache.clear(); segCache = null; sumCache = null }

  /** Append one ingest batch as a new segment file — O(batch). */
  def append(newEntries: Seq[CatEntry]): Unit = lock.synchronized {
    if (newEntries.isEmpty) return
    if (!fs.exists(segDir)) fs.mkdirs(segDir)
    val name = f"seg-${System.nanoTime()}%019d-${java.util.UUID.randomUUID().toString.take(8)}.jsonl"
    val tmp = new Path(segDir, name + ".tmp")
    writeFile(tmp, newEntries)
    Store.renameOrThrow(fs, tmp, new Path(segDir, name))
    invalidate()
  }

  /** Atomic read-modify-write: drop entries for `dropFiles`, add `add`.
    * Runs under the same in-JVM lock as [[append]], so a concurrent
    * append's segment can never be lost to the base-rewrite's segment
    * cleanup — the race a caller-side load/filter/save would have
    * (maintenance ops like TRUNCATE/compact racing a pipe's append). */
  def replace(dropFiles: Set[String], add: Seq[CatEntry]): Unit = lock.synchronized {
    save(load().filterNot(e => dropFiles.contains(e.file)) ++ add)
  }

  /** Replace the whole catalog (compaction; [[replace]]'s rewrite) with the
    * sharded base layout, consuming `entries` in one streaming pass (no
    * requirement that the caller materializes them — CatalogScaleProbe
    * feeds 10^7 straight from an iterator).
    * Crash-safe: at every instant either the new shards, the old shards
    * (as `.shards.bak`), or the legacy base is readable. */
  def save(entries: IterableOnce[CatEntry]): Unit = lock.synchronized {
    // the segment files whose content this base subsumes — recorded INSIDE
    // the new base as a consumed-list, so a crash before the segment
    // cleanup below cannot resurrect entries the caller dropped
    // (replace()/TRUNCATE/compact): readers skip consumed segments even
    // while the files still exist. EVERY name currently on disk qualifies:
    // live segments fold in now, crash-residue ones were folded by the
    // prior save whose base load() just read — and names whose files are
    // gone can never resurrect, so the list stays bounded by the segment
    // dir, not by the catalog's lifetime.
    val consumedSegs =
      if (!fs.exists(segDir)) Nil
      else fs.listStatus(segDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".jsonl"))
        .map(_.getPath.getName).sorted
    val tmp = new Path(path.getParent, path.getName + ".shards.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    fs.mkdirs(tmp)
    val outs = new Array[java.io.BufferedOutputStream](Catalog.Shards)
    // per-shard part summaries, accumulated in the SAME streaming pass
    // (O(parts) resident — the whole point is never holding O(chunks))
    val sums = new Array[scala.collection.mutable.LinkedHashMap[String, Array[Long]]](Catalog.Shards)
    try {
      entries.iterator.foreach { e =>
        val s = Catalog.shardOf(e.part)
        if (outs(s) == null) {
          outs(s) = new java.io.BufferedOutputStream(
            fs.create(new Path(tmp, Catalog.shardFileName(s)), true), 1 << 16)
          sums(s) = scala.collection.mutable.LinkedHashMap.empty
        }
        outs(s).write((encode(e) + "\n").getBytes(StandardCharsets.UTF_8))
        val a = sums(s).getOrElseUpdate(e.part,
          Array(0L, 0L, 0L, Long.MinValue, Long.MinValue, Long.MaxValue))
        a(0) += 1; a(1) += e.sizeBytes; a(2) += e.records
        if (e.maxSeq > a(3)) a(3) = e.maxSeq
        if (e.writeTs > a(4)) a(4) = e.writeTs
        if (e.maxSeq < a(5)) a(5) = e.maxSeq
      }
    } finally outs.foreach(o => if (o != null) o.close())
    // sidecar per written shard — same tmp dir, so the atomic base swap
    // below carries base and summaries together (they can never diverge)
    for (s <- 0 until Catalog.Shards; if sums(s) != null) {
      val out = new java.io.BufferedOutputStream(
        fs.create(new Path(tmp, Catalog.sumFileName(s)), true), 1 << 16)
      try sums(s).foreach { case (p, a) =>
        out.write(
          (encodeSum(PartSummary(p, a(0), a(1), a(2), a(3), a(4), a(5))) + "\n")
            .getBytes(StandardCharsets.UTF_8))
      } finally out.close()
    }
    if (consumedSegs.nonEmpty) {
      val out = fs.create(new Path(tmp, Catalog.ConsumedName), true)
      try out.write(consumedSegs.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // recover a half-finished prior swap FIRST: if `.shards.bak` is the
    // only live base, promote it — deleting it outright (the old order)
    // opened a window with no readable base at all
    if (!fs.exists(shardsDir) && fs.exists(shardsBak))
      Store.renameOrThrow(fs, shardsBak, shardsDir)
    if (fs.exists(shardsBak)) fs.delete(shardsBak, true)
    if (fs.exists(shardsDir)) Store.renameOrThrow(fs, shardsDir, shardsBak)
    Store.renameOrThrow(fs, tmp, shardsDir)
    // the sharded base now carries everything: legacy files and consumed
    // segments are stale residue (readers prefer `.shards` and skip the
    // consumed-list, so a crash anywhere in this cleanup is harmless)
    if (fs.exists(path)) fs.delete(path, false)
    if (fs.exists(bakPath)) fs.delete(bakPath, false)
    if (fs.exists(segDir)) fs.delete(segDir, true)
    fs.delete(shardsBak, true)
    invalidate()
  }

  private def writeFile(p: Path, entries: Seq[CatEntry]): Unit = {
    val out = fs.create(p, true)
    try out.write(entries.map(encode).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Sidecar line codec for [[PartSummary]] — the same [[StateFile]]
    * record as [[encode]]; summaries are O(parts) so the decode path is
    * never a hot loop and the keyed scanner suffices. */
  private def encodeSum(p: PartSummary): String =
    s"""{"part":"${StateFile.esc(p.part)}","chunks":${p.chunks},"sizeBytes":${p.sizeBytes},""" +
      s""""records":${p.records},"maxSeq":${p.maxSeq},"maxWriteTs":${p.maxWriteTs},""" +
      s""""minMaxSeq":${p.minMaxSeq}}"""

  private def decodeSum(line: String): PartSummary = {
    import StateFile.{num, str}
    PartSummary(str(line, "part"), num(line, "chunks", 0L), num(line, "sizeBytes", 0L),
      num(line, "records", 0L), num(line, "maxSeq", 0L), num(line, "maxWriteTs", 0L),
      // absent in pre-round-13 sidecars: MinValue = UNKNOWN (see the
      // PartSummary doc) — readers that care fall back to the shard
      num(line, "minMaxSeq", Long.MinValue))
  }

  private def encode(e: CatEntry): String =
    s"""{"part":"${StateFile.esc(e.part)}","file":"${StateFile.esc(e.file)}","records":${e.records},""" +
      s""""sizeBytes":${e.sizeBytes},"minTs":${e.minTs},"maxTs":${e.maxTs},""" +
      s""""writeTs":${e.writeTs},"maxSeq":${e.maxSeq}}"""

  private def decode(line: String): CatEntry = {
    // encode writes fields in one fixed order, so the common case parses in
    // a single left-to-right scan (~4× faster than the keyed scanner — this
    // is the driver-side hot loop at 10^7 catalog lines); anything
    // surprising falls back to the order-insensitive scanner below
    try fastDecode(line)
    catch { case _: RuntimeException => slowDecode(line) }
  }

  private def fastDecode(line: String): CatEntry = {
    var i = 0
    def lit(s: String): Unit = {
      if (!line.startsWith(s, i)) throw Catalog.FastFail
      i += s.length
    }
    def str(): String = { // i sits after the opening quote on entry
      val start = i
      var j = i
      var esc = false
      while (line.charAt(j) != '"') {
        if (line.charAt(j) == '\\') { esc = true; j += 2 } else j += 1
      }
      val out = if (esc) StateFile.unesc(line, start, j) else line.substring(start, j)
      i = j + 1
      out
    }
    def num(): Long = {
      var j = i
      var neg = false
      if (line.charAt(j) == '-') { neg = true; j += 1 }
      var v = 0L
      while (j < line.length && line.charAt(j) >= '0' && line.charAt(j) <= '9') {
        v = v * 10 + (line.charAt(j) - '0'); j += 1
      }
      if (j == i || (neg && j == i + 1)) throw Catalog.FastFail
      i = j
      if (neg) -v else v
    }
    lit("{\"part\":\"");     val part = str()
    lit(",\"file\":\"");     val file = str()
    lit(",\"records\":");    val records = num()
    lit(",\"sizeBytes\":");  val sizeBytes = num()
    lit(",\"minTs\":");      val minTs = num()
    lit(",\"maxTs\":");      val maxTs = num()
    lit(",\"writeTs\":");    val writeTs = num()
    val maxSeq =
      if (line.startsWith(",\"maxSeq\":", i)) { i += 10; num() }
      else -1L // legacy line predating the field
    lit("}")
    if (i != line.length) throw Catalog.FastFail
    CatEntry(part, file, records, sizeBytes, minTs, maxTs, writeTs, maxSeq)
  }

  private def slowDecode(line: String): CatEntry = {
    import StateFile.{num, str}
    CatEntry(str(line, "part"), str(line, "file"), num(line, "records", 0L),
      num(line, "sizeBytes", 0L), num(line, "minTs", 0L), num(line, "maxTs", 0L),
      num(line, "writeTs", 0L), num(line, "maxSeq", -1L))
  }
}

object Catalog {
  /** Base shard count. 256 keeps a 10^7-chunk catalog's per-shard parse at
    * ~40k lines (and 10^8 at ~400k — still sub-second) while the shard
    * directory stays a trivial listing; entries route by a stable hash of
    * the part line (String.hashCode is pinned by the JLS, so shards are
    * stable across JVMs/restarts). */
  val Shards = 256
  def shardOf(part: String): Int = (part.hashCode & 0x7fffffff) % Shards

  /** Thread cap for the multi-file (full-load / segment) parse — driver
    * CPU-bound work, kept well under the executor thread budget. */
  val ParseThreads = 8
  private[store] def shardFileName(s: Int): String = f"shard-$s%03d.jsonl"
  /** Summary sidecar name for shard `s` — deliberately NOT `.jsonl`, so
    * base-file listings never parse a sidecar as entries. */
  private[store] def sumFileName(s: Int): String = f"shard-$s%03d.sum"
  /** Shard id from a base file name (`shard-NNN.jsonl`), -1 if not one. */
  private[store] def shardIdOf(name: String): Int =
    if (name.startsWith("shard-") && name.endsWith(".jsonl"))
      try name.substring(6, name.length - 6).toInt
      catch { case _: NumberFormatException => -1 }
    else -1
  /** Consumed-segment list inside the shards dir (not `.jsonl`, so the
    * base-file listing never parses it as entries). */
  private[store] val ConsumedName = "consumed.txt"

  /** Control-flow signal for [[fastDecode]]'s bail-to-slow-path. */
  private object FastFail extends RuntimeException with scala.util.control.NoStackTrace

  /** Allocation-free comparators for [[Catalog#collapse]] — explicit so the
    * 10^7-entry parallel sorts don't box a tuple per comparison. */
  private[store] val FileOrd: java.util.Comparator[CatEntry] =
    new java.util.Comparator[CatEntry] {
      def compare(a: CatEntry, b: CatEntry): Int = a.file.compareTo(b.file)
    }
  private[store] val EntryOrd: java.util.Comparator[CatEntry] =
    new java.util.Comparator[CatEntry] {
      def compare(a: CatEntry, b: CatEntry): Int = {
        val c = a.part.compareTo(b.part)
        if (c != 0) return c
        val d = java.lang.Long.compare(a.writeTs, b.writeTs)
        if (d != 0) d else a.file.compareTo(b.file)
      }
    }

  // one lock per catalog path, shared across Catalog instances in the JVM
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private[store] def lockFor(path: String): Object =
    locks.getOrElseUpdate(path, new Object)

  // ONE Catalog instance per qualified path, JVM-wide: every reader of a
  // root (Store, the LQL engine, the graft-store batch/streaming source) shares
  // one set of fingerprint-memoized parse caches, so a streaming trigger
  // never re-parses state an engine query (or the previous trigger)
  // already parsed. Safe because all mutation goes through the per-path
  // lock above and every read path revalidates against the on-disk
  // fingerprint. Instances of DELETED roots linger with their last small
  // parse until JVM exit — bounded by the number of distinct roots a
  // driver touches, which is the same order as the Store/engine caches.
  private val instances = scala.collection.concurrent.TrieMap.empty[String, Catalog]

  def apply(conf: Configuration, root: String): Catalog = {
    val p = new Path(root, "catalog.jsonl")
    val fs = p.getFileSystem(conf)
    instances.getOrElseUpdate(fs.makeQualified(p).toString, new Catalog(fs, p))
  }

  /** An UNSHARED instance with empty caches — for probes measuring cold
    * parse costs; production callers want [[apply]]. */
  def fresh(conf: Configuration, root: String): Catalog = {
    val p = new Path(root, "catalog.jsonl")
    new Catalog(p.getFileSystem(conf), p)
  }
}
