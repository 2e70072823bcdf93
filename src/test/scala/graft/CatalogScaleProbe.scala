package graft

import graft.store.{CatEntry, Catalog}

/** Scale probe for the driver-side catalog — the engine's acknowledged
  * 100 TB boundary (a million-chunk store must still load and prune within
  * driver budget; at reference chunk sizes 100 TB is 10^6–10^7 chunks).
  * Builds a synthetic catalog of N entries across P parts (99% compacted
  * sharded base + 100 append segments, the steady state a store reaches
  * between compactions), then measures:
  *   - cold PER-PART load ([[Catalog.entriesForPart]]: one hash shard +
  *     segments — the query path; must be independent of total chunk count)
  *   - warm per-part load (shard-memoized hit)
  *   - cold FULL load (parse + duplicate-collapse + sort + index build —
  *     the SHOW PARTITIONS/admin path; budget-enforced up to 10M entries
  *     now that both the parse and the collapse/index parallelize)
  *   - per-part prune via the full index vs the full linear scan
  *   - resident heap cost of the parsed entries
  *
  * `sbt "Test/runMain graft.CatalogScaleProbe [entries] [parts] [full]"`
  * (defaults 1,000,000 entries / 20,000 parts). Prints one JSON line and
  * enforces the budgets AT ANY N: cold per-part load < 2 s first-ever
  * (JIT-cold JVM), < 1 s steady-state (fresh Catalog instance, warm JIT —
  * what a long-lived driver pays after any prior catalog read); cold full
  * load < 30 s when the full path is measured.
  *
  * Measured on this host (PLANS.md round 10, after the parallel
  * collapse/index): 10^6 → per-part cold 151 ms, full load 0.56 s;
  * 10^7 → per-part cold 409 ms first-ever / 153 ms JIT-warm, full load
  * 9.4 s / 2.5 GB heap (was 117 s when the collapse and index were
  * single-threaded — the admin path now holds its 30 s budget a decade
  * above the old 2M boundary; the remaining O(N) terms all parallelize,
  * so past ~10^7 the binding constraint is driver HEAP, which is where
  * the documented Delta/metastore migration takes over).
  */
object CatalogScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val parts = if (args.length > 1) args(1).toInt else 20000
    val forceFull = args.length > 2 && args(2) == "full"
    val dir = java.nio.file.Files.createTempDirectory("graft-catprobe").toFile
    try run(n, parts, dir, measureFull = forceFull || n <= 10000000)
    finally rm(dir)
  }

  private def run(n: Int, parts: Int, dir: java.io.File, measureFull: Boolean): Unit = {
    val cat = Catalog.fresh(new org.apache.hadoop.conf.Configuration(), dir.getAbsolutePath)
    val now = System.nanoTime()
    def entry(i: Int): CatEntry = CatEntry(
      part = s"app=svc${i % parts},env=prod",
      file = s"${dir.getAbsolutePath}/data/chunk-$i.parquet",
      records = 100000L, sizeBytes = 128L << 20,
      minTs = i * 1000000L, maxTs = i * 1000000L + 999999L,
      writeTs = now + i, maxSeq = i.toLong)

    val baseN = n * 99 / 100
    val tb0 = System.nanoTime()
    // iterator, not a materialized Seq: save() streams into the shard
    // writers, so building a 10^7-entry base never holds 10^7 objects
    cat.save((0 until baseN).iterator.map(entry))
    val segBatch = math.max(1, (n - baseN) / 100)
    var k = baseN
    while (k < n) {
      cat.append((k until math.min(n, k + segBatch)).map(entry))
      k += segBatch
    }
    val buildMs = (System.nanoTime() - tb0) / 1e6

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    val rt = Runtime.getRuntime
    def usedMb(): Long = { System.gc(); (rt.totalMemory - rt.freeMemory) >> 20 }

    val target = s"app=svc${parts / 2},env=prod"

    // fresh Catalog instance: cold = parse from disk, nothing memoized.
    // Per-part FIRST — this is the query path whose independence from N is
    // the design claim; it must not ride on a warm full-load cache.
    val cold = Catalog.fresh(new org.apache.hadoop.conf.Configuration(), dir.getAbsolutePath)
    val (viaShard, partColdMs) = time(cold.entriesForPart(target))
    val (_, partWarmMs) = time(cold.entriesForPart(target))
    // admin plane on ANOTHER fresh instance: SHOW PARTITIONS totals and
    // the epoch high-water ride partSummaries — O(parts) sidecar lines
    // plus O(segment batches), never the O(chunks) base parse
    val coldSum = Catalog.fresh(new org.apache.hadoop.conf.Configuration(), dir.getAbsolutePath)
    val (sums, sumColdMs) = time(coldSum.partSummaries())
    val (_, sumWarmMs) = time(coldSum.partSummaries())
    require(sums.size == parts, s"expected $parts summaries, got ${sums.size}")
    val totSize = sums.valuesIterator.map(_.sizeBytes).sum
    val totRecs = sums.valuesIterator.map(_.records).sum
    val hw = sums.valuesIterator.map(_.maxSeq).max
    require(totSize == n.toLong * (128L << 20) && totRecs == n.toLong * 100000L,
      s"summary totals drifted: size=$totSize recs=$totRecs")
    require(hw == n.toLong - 1 || hw == n.toLong, s"epoch high-water $hw")
    // second fresh instance, different part/shard: same disk-cold parse but
    // JIT-warm — the steady-state cold cost a long-lived driver pays
    val cold2 = Catalog.fresh(new org.apache.hadoop.conf.Configuration(), dir.getAbsolutePath)
    val (_, partCold2Ms) = time(cold2.entriesForPart(s"app=svc${parts / 3},env=prod"))

    var coldMs, warmMs, idxMs, scanMs = -1.0
    var heapMb = -1L
    var loadedN = -1
    if (measureFull) {
      val m0 = usedMb()
      val (entries, c) = time(cold.load()); coldMs = c
      val m1 = usedMb(); heapMb = m1 - m0
      val (_, w) = time(cold.load()); warmMs = w
      val idx = cold.partIndex() // memoized with load — no extra parse
      val (viaIdx, i) = time(idx.getOrElse(target, Vector.empty)); idxMs = i
      val (viaScan, s) = time(entries.filter(_.part == target)); scanMs = s
      require(viaIdx == viaScan, "index and full scan disagree")
      require(viaShard == viaIdx, "sharded per-part read and full index disagree")
      loadedN = entries.size
      require(loadedN == n, s"expected $n entries, loaded $loadedN")
    }

    // one appended batch after a full load: the per-file parse memo must
    // make the reload O(batch)+collapse, not a full O(N) re-parse — the
    // pipe-discovery hot path (runs LAST so the entry count above stays n)
    val (_, preMs) = time(cold2.load())
    cold2.append(Seq(entry(n + 1)))
    val (_, incrMs) = time(cold2.load())

    // ---- streaming-source discovery (round-13 directive 1) ----
    // The streaming source's per-trigger work — latestOffset and an
    // idle/one-part-advanced getBatch, which resolves the batch's catalog
    // entries — must be O(parts)/O(changed shards), NOT O(chunks):
    // budget-assert it against THIS catalog through the real V1 Source.
    // reuse an already-running session (CatalogSpec's smoke test runs
    // this inside the shared suite session — stopping THAT would kill
    // every later suite); stop only a session this probe itself created
    val hadActive = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).isDefined
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("graft-catprobe")
      .config("spark.ui.enabled", "false").getOrCreate()
    var offColdMs, offWarmMs, planIdleMs, planOneMs = -1.0
    try {
      import graft.sources.GraftOffset
      val src = new graft.sources.GraftStoreStream(
        new graft.store.Store(spark, dir.getAbsolutePath), None)
      def latest() = GraftOffset.of(src.latestOffset(null,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
      // the batch's planned files, straight from its catalog file index
      // (a streaming frame cannot run a batch action)
      def planned(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.listFiles(Nil, Nil)
        }.flatten
      // fresh-JVM-analog cold: summaries sidecars parse once
      val (off1, oc) = time(latest()); offColdMs = oc
      val (off2, ow) = time(latest()); offWarmMs = ow
      val cur = off1.cursors
      require(cur == off2.cursors, "latestOffset not idempotent on an unchanged catalog")
      require(cur.size == parts, s"expected $parts cursors, got ${cur.size}")
      // cursor correctness vs the synthetic layout: part j holds chunks
      // i ≡ j (mod parts), i <= n+1 (the incremental-append entry above)
      val j = parts / 2
      val expected =
        if ((n + 1) % parts == j) n + 1L
        else ((n - 1 - j).toLong / parts) * parts + j
      require(cur(target) == expected,
        s"cursor for $target = ${cur(target)}, expected $expected")
      // one untimed idle batch first: the budgets are per-trigger catalog
      // work, not the JVM's first Catalyst analysis
      src.getBatch(Some(off1), off2)
      // idle trigger: zero advanced parts — pure cursor-map iteration
      val (idle, pi) = time(src.getBatch(Some(off1), off2)); planIdleMs = pi
      require(planned(idle).isEmpty, s"idle trigger planned ${planned(idle).size} partitions")
      // one advanced part: plan must touch ONE hash shard, return the one
      // chunk above the rolled-back cursor
      val lo = GraftOffset(cur.updated(target, cur(target) - 1L))
      val (one, po) = time(src.getBatch(Some(lo), off1)); planOneMs = po
      val dirs = planned(one)
      require(dirs.size == 1 && dirs.head.files.size == 1 &&
        dirs.head.values.getUTF8String(0).toString == target,
        s"one-part advance planned ${dirs.map(_.files.size).sum} files")
    } finally if (!hadActive) spark.stop()

    println(f"""{"entries":$n,"parts":$parts,"build_ms":$buildMs%.0f,"part_cold_ms":$partColdMs%.1f,"part_cold_jitwarm_ms":$partCold2Ms%.1f,"part_warm_ms":$partWarmMs%.3f,"chunks_for_part":${viaShard.size},"full_load_ms":$preMs%.0f,"incr_load_ms":$incrMs%.0f,"cold_load_ms":$coldMs%.0f,"warm_load_ms":$warmMs%.3f,"prune_index_ms":$idxMs%.3f,"prune_scan_ms":$scanMs%.1f,"heap_mb":$heapMb,"summaries_cold_ms":$sumColdMs%.1f,"summaries_warm_ms":$sumWarmMs%.3f,"offset_cold_ms":$offColdMs%.1f,"offset_warm_ms":$offWarmMs%.1f,"plan_idle_ms":$planIdleMs%.1f,"plan_one_part_ms":$planOneMs%.1f}""")

    // the documented driver budgets; the full-load budget applies at the
    // supported admin scale (<= 2M chunks) — a FORCED full run above that
    // is a diagnostic of the documented metastore-migration boundary
    // (at 10^7 the parallel parse is fine but the single-threaded
    // collapse/sort/index is not), so it reports without failing
    require(partColdMs < 2000, f"cold per-part load $partColdMs%.1f ms blows the 2 s budget")
    require(partCold2Ms < 1000, f"JIT-warm cold per-part load $partCold2Ms%.1f ms blows the 1 s budget")
    // the summary-backed admin plane holds its budget AT ANY N, including
    // the forced-10^7 run where the full load is out of budget — that is
    // the r10-directive-3 contract (totals without catalog.load())
    require(sumColdMs < 2000, f"cold partSummaries $sumColdMs%.1f ms blows the 2 s budget")
    // streaming per-trigger budgets AT ANY N (the r12-verdict directive:
    // a short-trigger pipe at 10^7 chunks must not walk 10^7 entries per
    // poll): cold offset = one summaries sidecar parse + segment overlay;
    // warm offset and the idle plan are memoized-map work over O(parts);
    // a one-part advance parses ONE hash shard. Budgets carry the host's
    // documented first-touch noise band (measured at 10^7/20k parts:
    // cold 2.1 s, warm 0.66 s, idle 42 ms, one-part 0.84 s — vs 9.8 s
    // for the full load the old implementation paid EVERY trigger).
    require(offColdMs < 4000, f"cold streaming offset $offColdMs%.1f ms blows the 4 s budget")
    require(offWarmMs < 1000, f"warm streaming offset $offWarmMs%.1f ms blows the 1 s per-trigger budget")
    require(planIdleMs < 500, f"idle-trigger plan $planIdleMs%.1f ms blows the 500 ms budget")
    require(planOneMs < 1500, f"one-part plan $planOneMs%.1f ms blows the 1.5 s budget")
    if (measureFull && n <= 10000000) {
      require(coldMs < 30000, f"cold full load $coldMs%.0f ms blows the 30 s budget")
      require(idxMs < 50, f"indexed prune $idxMs%.3f ms blows the 50 ms budget")
    }
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}
