package perfbench

import scala.collection.mutable

/** Metrics, check outcomes and the final result line of one run.
  *
  * Every metric is printed as a readable line when it is set; the last
  * stdout line is the JSON result, holding the end-to-end metrics of an
  * untraced run or the per-layer metrics of a traced run. */
final class Report(workload: String, traced: Boolean) {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  def put(name: String, value: Double, unit: String, note: String = ""): Unit = {
    values(name) = (value, unit)
    val n = if (note.isEmpty) "" else s"  ($note)"
    println(f"metric $workload%-13s $name%-40s ${Report.num(value)}%14s $unit$n")
  }

  /** Median and the highest supported tail percentile of `ms` under `prefix`
    * (`<prefix>_p50_ms`, `<prefix>_p<level>_ms`); prints only when the
    * phase produced samples. */
  def timing(prefix: String, ms: Seq[Double]): Unit =
    if (ms.nonEmpty) {
      put(s"${prefix}_p50_ms", Stats.median(ms), "ms", s"n=${ms.size}")
      Stats.tail(ms).foreach { case (p, v) => put(s"${prefix}_p${p}_ms", v, "ms", s"n=${ms.size}") }
    }

  /** Count one checked operation; `error` is the reason it failed. */
  def check(ok: Boolean, error: => String): Unit = {
    attempted += 1
    if (!ok) fail(error)
  }

  def fail(error: String): Unit = {
    failures += error
    if (failures.size <= 20) System.err.println(s"CHECK FAILED [$workload]: $error")
  }

  def failed: Long = failures.size.toLong

  /** Prints error_rate and the result line; returns the process exit code. */
  def finish(): Int = {
    val names = if (traced) Report.PerLayer else Report.EndToEnd
    if (traced) names.filterNot(n => values.contains(n._1) || Report.Layers(workload)(n._1))
      .foreach { case (n, u) => put(n, 0.0, u, "layer not exercised by this workload") }
    names.map(_._1).filterNot(values.contains).foreach(m => fail(s"metric $m was not measured"))
    val tried = math.max(attempted, failed)
    put("error_rate", if (tried == 0) 0.0 else failed.toDouble / tried, "ratio",
      s"$failed failed of $tried")
    val ok = failures.isEmpty && tried > 0
    val ms = names.filter(n => values.contains(n._1)).map { case (n, u) =>
      s""""$n":{"value":${Report.num(values(n)._1)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":$ok,"attempted":${math.max(tried, 1)},"failed":$failed,"metrics":{$ms}}""")
    if (ok) 0 else 1
  }
}

object Report {

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** End-to-end metrics every workload reports (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_ms" -> "ms",
    "ops_per_s" -> "1/s")

  /** Entries of the batch_curate pass (BENCHMARK.json). */
  val CurateEntries: Seq[String] = Seq("llm_dedup_simhash", "llm_dsir", "q3_join5", "q17_quantiles")

  /** Per-layer metrics every traced run reports; a layer a workload does
    * not exercise ([[Layers]]) reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "lql.parse_ms" -> "ms",
    "engine.prune_ms" -> "ms",
    "engine.build_ms" -> "ms",
    "engine.build_jobs" -> "count",
    "engine.token_ms" -> "ms",
    "engine.tail_poll_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "scan.files_read" -> "count",
    "scan.files_in_range" -> "count",
    "scan.rows_read_per_row_returned" -> "ratio",
    "store.write_ms" -> "ms",
    "store.write_job_ms" -> "ms",
    "store.write_commit_ms" -> "ms",
    "store.write_jobs" -> "count",
    "store.compact_ms" -> "ms",
    "store.truncate_ms" -> "ms",
    "store.files" -> "count",
    "store.catalog_segments" -> "count",
    "store.catalog_bytes" -> "B",
    "sources.collector_ms" -> "ms",
    "sources.collector_lines_per_s" -> "1/s",
    "streaming.pipe_batches" -> "count",
    "streaming.pipe_files_per_batch" -> "count",
    "streaming.pipe_job_ms" -> "ms",
    "streaming.forward_batch_rows" -> "count",
    "streaming.tail_empty_poll_share" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_overhead_ms" -> "ms",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.stage_skew" -> "ratio",
    "spark.cached_peak_mb" -> "MB",
    "spark.gc_ms" -> "ms",
    "queries.build_jobs" -> "count",
    "queries.build_s" -> "s",
    "bench.gen_lag_p95_ms" -> "ms",
    "bench.trace_overhead_pct" -> "%") ++
    CurateEntries.map(e => s"queries.${e}_s" -> "s")

  private val PerOperation = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_overhead_ms",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.stage_skew",
    "spark.cached_peak_mb", "spark.gc_ms", "bench.trace_overhead_pct")
  private val StoreShape = Seq("store.files", "store.catalog_segments", "store.catalog_bytes")

  /** The per-layer metrics each workload exercises; a traced run fails
    * when one of them was not measured. */
  val Layers: Map[String, Set[String]] = Map(
    "lql_read" -> (Seq("lql.parse_ms", "engine.prune_ms", "engine.build_ms", "engine.build_jobs",
      "engine.token_ms", "engine.tail_poll_ms", "spark.plan_ms", "spark.exec_ms", "scan.files_read",
      "scan.files_in_range", "scan.rows_read_per_row_returned") ++ StoreShape ++ PerOperation).toSet,
    "ingest_follow" -> (Seq("engine.tail_poll_ms", "store.write_ms", "store.write_job_ms",
      "store.write_commit_ms", "store.write_jobs", "store.compact_ms", "store.truncate_ms",
      "sources.collector_ms", "sources.collector_lines_per_s", "streaming.pipe_batches",
      "streaming.pipe_files_per_batch", "streaming.pipe_job_ms", "streaming.forward_batch_rows",
      "streaming.tail_empty_poll_share", "bench.gen_lag_p95_ms") ++ StoreShape ++ PerOperation).toSet,
    "batch_curate" -> (Seq("queries.build_jobs", "queries.build_s") ++
      CurateEntries.map(e => s"queries.${e}_s") ++ PerOperation).toSet)
}
