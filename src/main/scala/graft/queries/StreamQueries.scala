package graft.queries

import graft.store.EventStore
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated entries for the streaming analytics layer, run in BATCH
  * mode over the LogEvent store (Spark's unified semantics: the same
  * [[StreamOps]] calls power `readStream` pipelines; StreamOpsSpec pins
  * the streaming/watermark behavior, these entries pin the RESULTS
  * against DuckDB).
  *
  * Both entries µs-align `ts` first (`ts div 1000 * 1000`): the raw
  * store carries full int64 nanos, but DuckDB's parquet reader truncates
  * ns timestamps to µs, so gap/window decisions must be made at the
  * precision BOTH engines can see (presentation-side only — the
  * operators themselves take full-precision input in production).
  */
object StreamQueries {

  /** Batch DataFrame over the events LogEvent store through the public
    * `graft-store` connector (also exercising its batch planning over the
    * catalog file index). */
  private def storeDf(spark: SparkSession, dir: String): DataFrame = {
    EventStore.engine(spark, dir) // ensure the store is built
    spark.read.format("graft-store")
      .option("root", EventStore.storeRoot(dir)).load()
  }

  private def usAligned(df: DataFrame): DataFrame =
    df.withColumn("ts", expr("ts div 1000 * 1000"))

  /** Tumbling 1-hour event-time counts per partition. */
  def windowCounts(spark: SparkSession, dir: String): DataFrame =
    StreamOps.windowedCounts(usAligned(storeDf(spark, dir)), "1 hour", "5 seconds")
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("part"), col("records"))

  /** Sliding 2-hour windows every hour — each event lands in two
    * overlapping windows. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    StreamOps.windowedCounts(usAligned(storeDf(spark, dir)), "2 hours",
        "5 seconds", slide = Some("1 hour"))
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("part"), col("records"))

  /** Gap-based sessions (1-hour idle timeout) keyed by the `user` field. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    StreamOps.sessionize(usAligned(storeDf(spark, dir)), "user",
      gapSeconds = 3600, watermarkDelay = "1 hour").toDF()
      .select(col("part"), col("key"),
        expr("startTs div 1000").as("start_us"),
        expr("endTs div 1000").as("end_us"), col("events"))

  /** First event per (part, user) — the exactly-once streaming dedup, in
    * batch mode. */
  def dedup(spark: SparkSession, dir: String): DataFrame =
    StreamOps.dedupFirst(usAligned(storeDf(spark, dir)), "user", "1 hour")
      .toDF()
      .select(col("part"), col("key"),
        expr("firstTs div 1000").as("first_us"),
        col("firstSeq").as("first_seq"))

  /** Incremental dedup: first event per NOVEL (part, user) after the 5%
    * mark of the store's time range, where "novel" means the key never
    * appeared before it (the static history side) — the new-visitor /
    * incremental-crawl shape. The cutoff is a bounded 1-row aggregate
    * collect, deterministic integer arithmetic mirrored by the oracle;
    * 5% (not the midpoint) keeps the gate honest on this corpus: its
    * keys are uniformly active, so a late cutoff leaves zero novel keys
    * and the entry would assert nothing. */
  def incrDedup(spark: SparkSession, dir: String): DataFrame = {
    val df = usAligned(storeDf(spark, dir))
    val mm = df.agg(min(expr("ts div 1000")), max(expr("ts div 1000"))).head()
    val cutUs = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 20
    StreamOps.incrementalDedup(
        df.filter(expr(s"ts div 1000 > $cutUs")),
        df.filter(expr(s"ts div 1000 <= $cutUs")),
        "user", "1 hour")
      .toDF()
      .select(col("part"), col("key"),
        expr("firstTs div 1000").as("first_us"),
        col("firstSeq").as("first_seq"))
  }

  /** Stream-stream interval join: views within 24 h of each click by
    * the same user (click parts ⋈ view parts of the same store). */
  def join(spark: SparkSession, dir: String): DataFrame = {
    val df = usAligned(storeDf(spark, dir))
    StreamOps.intervalJoin(
        df.filter(col("part").contains("name=click")),
        df.filter(col("part").contains("name=view")),
        "user", withinSeconds = 86400, watermarkDelay = "1 hour")
      .select(col("key"),
        expr("l_ts div 1000").as("l_us"), col("l_seq"),
        expr("r_ts div 1000").as("r_us"), col("r_seq"))
  }

  /** The LEFT OUTER form of [[join]]: every click emits — matched clicks
    * with each in-window view, unmatched clicks once with null r_us/r_seq
    * (the "clicks that never converted" query). In streaming mode the
    * null row is emitted only once the watermark proves no matching view
    * can still arrive (the outer stream-stream join's state discipline —
    * pinned by StreamOpsSpec); this entry pins the RESULT set, where
    * ~60% of clicks are unmatched at the 24 h bound on this corpus, so
    * the gate exercises both row shapes. */
  def leftJoin(spark: SparkSession, dir: String): DataFrame = {
    val df = usAligned(storeDf(spark, dir))
    StreamOps.intervalJoin(
        df.filter(col("part").contains("name=click")),
        df.filter(col("part").contains("name=view")),
        "user", withinSeconds = 86400, watermarkDelay = "1 hour",
        joinType = "left_outer")
      .select(col("key"),
        expr("l_ts div 1000").as("l_us"), col("l_seq"),
        expr("r_ts div 1000").as("r_us"), col("r_seq"))
  }

  /** Per-user journey steps (adjacent-event transitions across parts),
    * aggregated to the (from_part, to_part) matrix — every step feeds the
    * counts, so the gate exercises the full extraction; the streaming leg
    * (watermark-final pair emission) is pinned by StreamOpsSpec. */
  def transitions(spark: SparkSession, dir: String): DataFrame =
    StreamOps.transitions(usAligned(storeDf(spark, dir)), "user", "1 hour")
      .toDF()
      .select(col("fromPart"), col("toPart"),
        expr("fromTs div 1000").as("from_us"),
        expr("toTs div 1000").as("to_us"))
      .groupBy(col("fromPart").as("from_part"), col("toPart").as("to_part"))
      .agg(count(lit(1)).as("n"),
        min(col("from_us")).as("first_from_us"),
        max(col("to_us")).as("last_to_us"))

  /** Per-hour traffic-mix PSI drift against the store's own global
    * per-part profile (in production the baseline is a saved reference
    * table; here the same store supplies it, so every window's mix is
    * scored against the long-run mix). */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val df = usAligned(storeDf(spark, dir))
    StreamOps.windowDrift(df, StreamOps.driftBaseline(df), "1 hour",
      "5 seconds")
  }

  /** Per-hour top user (windowed heavy hitter, chained aggregations). */
  def windowTop(spark: SparkSession, dir: String): DataFrame =
    StreamOps.windowTopKey(usAligned(storeDf(spark, dir)), "user", "1 hour",
      "5 seconds")

  /** Per-hour top-3 users (the ranked leaderboard form of windowTop). */
  def windowTopK(spark: SparkSession, dir: String): DataFrame =
    StreamOps.windowTopK(usAligned(storeDf(spark, dir)), "user", "1 hour",
      "5 seconds", k = 3)

  /** Per-hour exact p90 of the integer `k` field (windowed order
    * statistic, chained aggregations over the value histogram). */
  def windowQuantile(spark: SparkSession, dir: String): DataFrame =
    StreamOps.windowQuantile(usAligned(storeDf(spark, dir)), "k", "1 hour",
      "5 seconds", qE4 = 9000L)

  /** Per-hour distinct users: the HLL windowed aggregate gated against
    * the exact per-window count — (window_start_us, n_distinct,
    * meets_bound), with meets_bound pinning the sketch inside a 10%
    * envelope (absolute floor 2). The approx leg is the SAME
    * [[StreamOps.windowDistinct]] call a readStream pipeline runs; the
    * exact leg exists only to gate it (windows-count-sized join). */
  def windowDistinct(spark: SparkSession, dir: String): DataFrame = {
    val df = usAligned(storeDf(spark, dir))
    val approx = StreamOps.windowDistinct(df, "user", "1 hour", "5 seconds")
    val exact = df
      .withColumn("event_time", StreamOps.eventTime(col("ts")))
      .withColumn("k", coalesce(element_at(col("fields"), "user"), lit("")))
      .groupBy(window(col("event_time"), "1 hour").as("w"))
      .agg(countDistinct(col("k")).as("exact"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("exact"))
    exact.join(approx, "window_start_us")
      .select(col("window_start_us"),
        col("exact").cast("long").as("n_distinct"),
        // absolute floor 2: sub-hundred windows sit where the sketch's
        // relative guarantee is weakest (rsd 0.02 keeps them in the
        // near-exact sparse regime, but the floor is what makes the gate
        // decade-robust rather than tuned to one corpus)
        (abs(col("approx") - col("exact")) <=
          greatest(lit(2L), expr("exact div 10"))).as("meets_bound"))
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_top" -> (windowTop _),
    "stream_window_topk" -> (windowTopK _),
    "stream_window_distinct" -> (windowDistinct _),
    "stream_window_quantile" -> (windowQuantile _),
    "stream_window_counts" -> (windowCounts _),
    "stream_sliding" -> (slidingCounts _),
    "stream_sessions" -> (sessions _),
    "stream_dedup" -> (dedup _),
    "stream_incr_dedup" -> (incrDedup _),
    "stream_join" -> (join _),
    "stream_left_join" -> (leftJoin _),
    "stream_transitions" -> (transitions _),
    "stream_drift" -> (drift _)
  )

  val oracles: Map[String, String] = Map(
    // the sketch value itself is engine-internal; the oracle pins the
    // exact count and asserts the envelope held (same pattern as
    // q12_sketch: an HLL regression flips meets_bound -> hash mismatch)
    "stream_window_distinct" ->
      s"""${EventStore.oracleCte}
         |SELECT (epoch_us(ts_raw) // 3600000000) * 3600000000
         |    AS window_start_us,
         |  count(DISTINCT user_id)::BIGINT AS n_distinct,
         |  true AS meets_bound
         |FROM le GROUP BY 1""".stripMargin,
    "stream_window_counts" ->
      s"""${EventStore.oracleCte}
         |SELECT (epoch_us(ts_raw) // 3600000000) * 3600000000 AS window_start_us,
         |  tags AS part, count(*) AS records
         |FROM le GROUP BY 1, 2""".stripMargin,
    "stream_sliding" ->
      s"""${EventStore.oracleCte}
         |SELECT ws AS window_start_us, tags AS part, count(*) AS records
         |FROM (SELECT tags, unnest([
         |    (epoch_us(ts_raw) // 3600000000) * 3600000000,
         |    (epoch_us(ts_raw) // 3600000000 - 1) * 3600000000]) AS ws
         |  FROM le)
         |GROUP BY 1, 2""".stripMargin,
    "stream_sessions" ->
      s"""${EventStore.oracleCte},
         |b AS (
         |  SELECT tags AS part, CAST(user_id AS VARCHAR) AS key,
         |    epoch_us(ts_raw) AS tus,
         |    CASE WHEN epoch_us(ts_raw) - lag(epoch_us(ts_raw)) OVER
         |      (PARTITION BY tags, user_id ORDER BY ts_raw, seq) > 3600000000
         |      THEN 1 ELSE 0 END AS brk
         |  FROM le
         |), s AS (
         |  SELECT part, key, tus,
         |    sum(brk) OVER (PARTITION BY part, key ORDER BY tus) AS sid
         |  FROM b
         |)
         |SELECT part, key, min(tus) AS start_us, max(tus) AS end_us,
         |  count(*) AS events
         |FROM s GROUP BY part, key, sid""".stripMargin,
    "stream_dedup" ->
      s"""${EventStore.oracleCte},
         |r AS (
         |  SELECT tags AS part, CAST(user_id AS VARCHAR) AS key,
         |    epoch_us(ts_raw) AS first_us, seq,
         |    row_number() OVER (PARTITION BY tags, user_id
         |                       ORDER BY ts_raw, seq) AS rn
         |  FROM le)
         |SELECT part, key, first_us, seq AS first_seq FROM r WHERE rn = 1""".stripMargin,
    "stream_window_top" ->
      s"""${EventStore.oracleCte},
         |cnt AS (
         |  SELECT (epoch_us(ts_raw) // 3600000000) * 3600000000
         |    AS window_start_us,
         |    CAST(user_id AS VARCHAR) AS key, count(*)::BIGINT AS cnt
         |  FROM le GROUP BY 1, 2),
         |r AS (
         |  SELECT window_start_us, key, cnt, row_number() OVER (
         |    PARTITION BY window_start_us ORDER BY cnt DESC, key DESC) AS rn
         |  FROM cnt)
         |SELECT window_start_us, key, cnt FROM r WHERE rn = 1""".stripMargin,
    "stream_window_topk" ->
      s"""${EventStore.oracleCte},
         |cnt AS (
         |  SELECT (epoch_us(ts_raw) // 3600000000) * 3600000000
         |    AS window_start_us,
         |    CAST(user_id AS VARCHAR) AS key, count(*)::BIGINT AS cnt
         |  FROM le GROUP BY 1, 2),
         |r AS (
         |  SELECT window_start_us, key, cnt, row_number() OVER (
         |    PARTITION BY window_start_us ORDER BY cnt DESC, key DESC) AS rn
         |  FROM cnt)
         |SELECT window_start_us, rn::BIGINT AS rank, key, cnt
         |FROM r WHERE rn <= 3""".stripMargin,
    "stream_window_quantile" ->
      s"""${EventStore.oracleCte},
         |vals AS (SELECT (epoch_us(ts_raw) // 3600000000) * 3600000000 AS ws,
         |           TRY_CAST(k AS BIGINT) AS v FROM le),
         |hist AS (SELECT ws, v, count(*) AS c FROM vals
         |         WHERE v IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT ws, v, c,
         |          sum(c) OVER (PARTITION BY ws ORDER BY v) AS cle,
         |          sum(c) OVER (PARTITION BY ws) AS n FROM hist)
         |SELECT ws AS window_start_us, n::BIGINT AS n,
         |  ${graft.operators.Quantiles.kSql("9000", "n")}::BIGINT AS k, v AS value
         |FROM cum
         |WHERE cle - c < ${graft.operators.Quantiles.kSql("9000", "n")}
         |  AND ${graft.operators.Quantiles.kSql("9000", "n")} <= cle""".stripMargin,
    "stream_incr_dedup" ->
      s"""${EventStore.oracleCte},
         |c AS (SELECT min(epoch_us(ts_raw)) +
         |        (max(epoch_us(ts_raw)) - min(epoch_us(ts_raw))) // 20
         |        AS cut FROM le),
         |known AS (
         |  SELECT DISTINCT tags AS part, CAST(user_id AS VARCHAR) AS key
         |  FROM le, c WHERE epoch_us(ts_raw) <= cut),
         |post AS (
         |  SELECT tags AS part, CAST(user_id AS VARCHAR) AS key,
         |    epoch_us(ts_raw) AS tus, seq, ts_raw
         |  FROM le, c WHERE epoch_us(ts_raw) > cut),
         |novel AS (
         |  SELECT p.* FROM post p LEFT JOIN known k USING (part, key)
         |  WHERE k.key IS NULL),
         |r AS (
         |  SELECT part, key, tus AS first_us, seq,
         |    row_number() OVER (PARTITION BY part, key
         |                       ORDER BY ts_raw, seq) AS rn
         |  FROM novel)
         |SELECT part, key, first_us, seq AS first_seq FROM r WHERE rn = 1""".stripMargin,
    "stream_transitions" ->
      s"""${EventStore.oracleCte},
         |s AS (
         |  SELECT tags AS part, epoch_us(ts_raw) AS tus,
         |    lead(tags) OVER w AS to_part,
         |    lead(epoch_us(ts_raw)) OVER w AS to_us
         |  FROM le
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_raw, seq))
         |SELECT part AS from_part, to_part, count(*)::BIGINT AS n,
         |  min(tus)::BIGINT AS first_from_us, max(to_us)::BIGINT AS last_to_us
         |FROM s WHERE to_part IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "stream_join" ->
      s"""${EventStore.oracleCte},
         |c AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts_raw) AS l_us,
         |        seq AS l_seq FROM le WHERE event_type = 'click'),
         |v AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts_raw) AS r_us,
         |        seq AS r_seq FROM le WHERE event_type = 'view')
         |SELECT c.key, c.l_us, c.l_seq, v.r_us, v.r_seq
         |FROM c JOIN v ON c.key = v.key
         |  AND v.r_us >= c.l_us AND v.r_us < c.l_us + 86400000000""".stripMargin,
    "stream_left_join" ->
      s"""${EventStore.oracleCte},
         |c AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts_raw) AS l_us,
         |        seq AS l_seq FROM le WHERE event_type = 'click'),
         |v AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts_raw) AS r_us,
         |        seq AS r_seq FROM le WHERE event_type = 'view')
         |SELECT c.key, c.l_us, c.l_seq, v.r_us, v.r_seq
         |FROM c LEFT JOIN v ON c.key = v.key
         |  AND v.r_us >= c.l_us AND v.r_us < c.l_us + 86400000000""".stripMargin,
    // the windowed PSI replayed with the shared Log2Fix kernel: one chain
    // per (window, part) smoothed ratio, one per window total ratio —
    // identical split-signed-log algebra to the Spark fold
    "stream_drift" -> {
      val lg1 = graft.functions.Log2Fix.duckdbCtes(
        "r1", "ws, part, pw, pb, sgn", "lg1")
      val lg2 = graft.functions.Log2Fix.duckdbCtes("r2", "ws, n, v, sgn2", "lg2")
      // the Log2Fix chains are recursive CTEs — lift the store CTE's
      // WITH to WITH RECURSIVE (legal for the non-recursive members too)
      val storeCte = EventStore.oracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")
      s"""$storeCte,
         |base AS (SELECT tags AS part, count(*)::BIGINT AS cb FROM le GROUP BY 1),
         |bt AS (SELECT sum(cb)::BIGINT AS nb, count(*)::BIGINT AS vb FROM base),
         |cnt AS (
         |  SELECT (epoch_us(ts_raw) // 3600000000) * 3600000000 AS ws,
         |    tags AS part, count(*)::BIGINT AS c
         |  FROM le GROUP BY 1, 2),
         |wt AS (SELECT ws, sum(c)::BIGINT AS n, count(*)::BIGINT AS v
         |       FROM cnt GROUP BY 1),
         |j AS (
         |  SELECT cnt.ws, cnt.part, c, coalesce(cb, 0) AS cb, n, v, nb, vb,
         |    ((c + 1) * 1000000 // (n + v)) AS pw,
         |    ((coalesce(cb, 0) + 1) * 1000000 // (nb + vb)) AS pb
         |  FROM cnt JOIN wt USING (ws) LEFT JOIN base USING (part), bt),
         |r1 AS (
         |  SELECT ws, part, pw, pb,
         |    CASE WHEN c >= cb THEN 1 ELSE -1 END AS sgn,
         |    greatest(c + 1, cb + 1) AS num, least(c + 1, cb + 1) AS den
         |  FROM j),
         |$lg1,
         |s1 AS (
         |  SELECT ws, sum((pw - pb) * sgn * l20)::BIGINT AS t1,
         |    sum(pw - pb)::BIGINT AS dp
         |  FROM lg1 GROUP BY 1),
         |r2 AS (
         |  SELECT ws, n, v, CASE WHEN nb + vb >= n + v THEN 1 ELSE -1 END AS sgn2,
         |    greatest(nb + vb, n + v) AS num, least(nb + vb, n + v) AS den
         |  FROM wt, bt),
         |$lg2
         |SELECT lg2.ws AS window_start_us, n, v,
         |  (t1 + sgn2 * l20 * dp)::BIGINT AS psi_sum,
         |  ((t1 + sgn2 * l20 * dp) // 1000000)::BIGINT AS psi_ub20
         |FROM s1 JOIN lg2 USING (ws)""".stripMargin
    }
  )
}
