package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AdminQueries, Analytics, LlmQueries, LqlQueries, StreamQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Entry families (every SQL-expressible key also appears in
  * [[oracleSql]] with IDENTICAL output column names — the driver sorts
  * columns by name before hashing):
  *  - `lql_*`  — SURVEY §2 reference operators driven end-to-end through
  *    the LQL engine (parse → catalog prune → filter → order → position
  *    → project) over the materialized LogEvent store, plus store
  *    lifecycle (ingest parsers, pipes, forwarder, truncate, compaction,
  *    tail-follow, the public graft-store connector);
  *  - `q*`     — analytics over the synthetic star schema: TPC-H-style
  *    joins/aggregates, as-of + interval joins, sketch gates, ROLLUP,
  *    gap-fill resampling, co-located bucketed joins;
  *  - `llm_*`  — the training-data curation layer: dedup (exact, MinHash,
  *    ngram-Jaccard + clusters + applied, embedding), ANN top-k (brute/
  *    LSH/IVF/JL-rerank + recall gate), text quality/repetition/
  *    boilerplate/templates, sampling/split/chunk/decontam (exact +
  *    Bloom)/TF-IDF/redaction/heavy-hitters, k-means, multimodal decode;
  *  - `stream_*`/`log_*` — Structured Streaming ops with unified batch
  *    semantics (windows, sessions, dedup, stream-stream joins) and
  *    log-template mining.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    LqlQueries.whereContains(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    LqlQueries.entries ++ AdminQueries.entries ++ LlmQueries.entries ++
      StreamQueries.entries ++ Map(
      "q1_agg" -> (Analytics.q1Agg _),
      "q2_topk" -> (Analytics.q2Topk _),
      "q3_join5" -> (Analytics.q3Join5 _),
      "q4_semi" -> (Analytics.q4Semi _),
      "q5_filter_agg" -> (Analytics.q5FilterAgg _),
      "q6_window" -> (Analytics.q6Window _),
      "q7_distinct" -> (Analytics.q7Distinct _),
      "q8_events_hourly" -> (Analytics.q8EventsHourly _),
      "q9_anti" -> (Analytics.q9Anti _),
      "q10_asof" -> (Analytics.q10Asof _),
      "q11_interval" -> (Analytics.q11Interval _),
      "q12_sketch" -> (graft.operators.Sketches.gate _),
      "q13_rollup" -> (Analytics.q13Rollup _),
      "q14_gapfill" -> (Analytics.q14Gapfill _),
      "q14_gapfill_perkey" -> (Analytics.q14GapfillPerKey _),
      "q15_bucketed_join" -> (graft.operators.Bucketing.bucketedJoin _),
      "q16_rolling" -> (Analytics.q16Rolling _),
      "q17_quantiles" -> (Analytics.q17Quantiles _),
      "q18_grouped_median" -> (Analytics.q18GroupedMedian _),
      "q19_funnel" -> (Analytics.q19Funnel _),
      "q20_retention" -> (Analytics.q20Retention _),
      "q21_spikes" -> (Analytics.q21Spikes _),
      "q22_ewma" -> (Analytics.q22Ewma _),
      "q23_transitions" -> (Analytics.q23Transitions _),
      "q24_user_sequences" -> (Analytics.q24UserSequences _),
      "q25_trimmed_mean" -> (Analytics.q25TrimmedMean _),
      "q26_mad" -> (Analytics.q26Mad _),
      "q27_correlation" -> (Analytics.q27Correlation _),
      "q28_histogram" -> (Analytics.q28Histogram _)
    )

  /** DuckDB twins for the driver's correctness gate. */
  def oracleSql: Map[String, String] =
    LqlQueries.oracles ++ AdminQueries.oracles ++ LlmQueries.oracles ++
      StreamQueries.oracles ++ Analytics.oracles

  /** Bounded campaign twins — `(oracleSql, engineWhere)` — for entries
    * whose full DuckDB twin is quadratic in the corpus and infeasible
    * at the sf10 decade; the verify harness engages one only when the
    * entry's full twin fails, and applies `engineWhere` (the identical
    * deterministic md5-sample predicate) to the engine's dumped parquet
    * so both sides of the compare restrict the same rows. */
  def oracleSqlBounded: Map[String, (String, String)] =
    LlmQueries.oraclesBounded
}
