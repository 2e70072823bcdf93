package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Materialize the LogEvent stores OUTSIDE the timed region (reported
    // separately as store_build_sec) so per-query numbers measure queries,
    // not one-off ingest charged to whichever entry runs first.
    // Record whether the on-disk store cache predates this run:
    // store_build_sec is BIMODAL on it (sf0.1: ~11 s of JIT/stream
    // warm-ups when the _BUILT markers exist vs ~27 s with the full
    // store construction on a fresh testdata fingerprint), and the
    // round-15 "store build 2.2x regression" was exactly a cached-vs-
    // fresh capture pair read as a code change (BuildPhaseProbe).
    // cold = ANY of the three stores' _BUILT markers missing: the timed
    // build constructs all three, so a partially-built cache still pays
    // real build work and must not report cold=false (round-16 advice)
    val storeBuildCold = Seq(
      graft.store.EventStore.storeRoot(sfDir),
      graft.store.PipeStore.storeRoot(sfDir),
      graft.store.IngestStore.storeRoot(sfDir)
    ).exists(r => !new java.io.File(s"$r/_BUILT").exists())
    val tb0 = System.nanoTime()
    graft.store.EventStore.engine(spark, sfDir)
    graft.store.PipeStore.engine(spark, sfDir)
    graft.store.IngestStore.engine(spark, sfDir)
    // JIT warm-up of the interpreted higher-order-function eval paths on a
    // tiny slice — first evaluation of the minhash/simhash lambda trees
    // otherwise costs ~10x and lands on whichever query runs first
    val docsWarm = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
    graft.llm.Dedup.nearDuplicates(docsWarm).count()
    graft.llm.SimHash.fingerprints(docsWarm).count()
    // JIT/classload warm-up of the graft-store batch scan path (catalog
    // file index + Spark's parquet scan): a bounded slice, so the first
    // connector-backed entry times its query, not one-off class loading
    spark.read.format("graft-store")
      .option("root", graft.store.EventStore.storeRoot(sfDir))
      .load().limit(2048).selectExpr("count(xxhash64(part, msg, ts, seq))").head()
    // ... and of the Structured Streaming machinery (MicroBatchExecution,
    // checkpoint IO, foreachBatch): one AvailableNow drain of a tiny
    // throwaway store, so the first streaming entry times its query, not
    // ~8s of one-time engine spin-up
    locally {
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-bwarm").toString
      val st = new graft.store.Store(spark, root)
      st.write(Map("app" -> "warm"), Map.empty,
        Seq((1000000000L, "w0", 1L)).toDF("ts", "msg", "seq"))
      val q = spark.readStream.format("graft-store").option("root", root).load()
        .writeStream.foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => { df.count(); () })
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(60000)
      finally q.stop() // never leave the warm-up stream running into timed entries
      graft.store.EventStore.rm(new java.io.File(root))
    }
    val buildSec = (System.nanoTime() - tb0) / 1e9
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // hash-reduce over every output column: unlike count(), Catalyst
    // cannot prune the projection under it, so timings include the full
    // output computation (format templates, kv-strings, scores).
    // bit_xor (not sum) — xxhash64 values are uniform 64-bit longs, so a
    // sum overflows under ANSI mode for any non-tiny output; xor is
    // order-independent and cannot overflow.
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        tag: String): (String, Double) = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(expr("bit_xor(h)")).head()
      } catch {
        case e: Throwable =>
          errors(s"$name$tag") = e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(300)
          System.err.println(s"bench $name$tag FAILED: $e")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = ordered.map { case (n, f) => runOne(n, f, "") }
    // Warm pass: a second run of every entry with all memoized/persisted
    // family state (ngram pairs, gram table, ANN caches, fuzzy shingles)
    // already built, so each warm number is the entry's MARGINAL cost —
    // the figure that carries round-over-round signal. The cold map keeps
    // first-touch attribution (comparable to prior rounds' totals); a
    // regression hidden inside a family's shared work shows up as
    // cold-sum growth for the family, while a per-entry plan regression
    // shows up in its warm time regardless of run order.
    val coldErrored = errors.keySet.toSet
    // SPARK_GRAFT_BENCH_REPS >= 2 runs the warm pass that many times and
    // reports the per-entry MEDIAN (round-13 directive 4: this host's
    // first-touch page-fault band swings identical code 1.3-5x, so a
    // single warm sample cannot distinguish a real regression from
    // noise; the median of >=3 can). queries_warm_minmax carries each
    // entry's observed spread so a reader can see which entries sat in
    // the noise band. Default 1 = the driver's per-round quick capture.
    // clamp to >= 1 and tolerate garbage: reps=0 would leave warmRuns
    // empty (byName throws), a non-numeric value would kill the run
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(1))
    val warmEntries = ordered.filterNot { case (n, _) => coldErrored(n) }
    val warmRuns: Seq[Seq[(String, Double)]] =
      (1 to reps).map(r => warmEntries.map { case (n, f) =>
        runOne(n, f, if (reps == 1) "(warm)" else s"(warm$r)")
      })
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val byName: Map[String, Seq[Double]] =
      warmRuns.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val warm = warmEntries.map { case (n, _) => n -> median(byName(n)) }
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    val qw = jmap(warm)
    val spread =
      if (reps < 2) ""
      else warmEntries.map { case (n, _) =>
        val xs = byName(n)
        s"\"" + n + s"\":[${xs.min},${xs.max}]"
      }.mkString(""""queries_warm_minmax":{""", ",", "},")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    // per-family build-vs-marginal attribution IN the artifact (round-14
    // directive 7; previously PLANS.md prose): family = first two name
    // segments; build = cold sum − warm(median) sum — the one-time shared
    // state (ngram tables, ANN caches, pipe stores) whichever entry runs
    // first pays. Clamped at 0: host noise can land warm above cold.
    val coldByName = results.toMap
    val famJson = warmEntries.map(_._1)
      .groupBy(n => n.split("_").take(2).mkString("_"))
      .toSeq.sortBy(_._1).map { case (f, names) =>
        val build = names.map(coldByName).sum - names.map(n => median(byName(n))).sum
        // Locale.ROOT: f"" uses the JVM default locale, and a
        // comma-decimal locale would emit "0,123" and corrupt the JSON
        // artifact (every other number on the line is Double.toString)
        s"\"" + f + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(math.max(0.0, build)))
      }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_warm":$qw,"warm_total_sec":$warmTotal,"warm_reps":$reps,$spread"families_build_cost":$famJson,"errors":$errs,"store_build_sec":$buildSec,"store_build_cold":$storeBuildCold,"sf":"$sfDir"}"""
    println(line)
    // The round driver keeps only the LAST 2000 chars of sbt output; the full
    // line above (~13 KB: two 184-entry maps) has therefore never been
    // parseable by the driver (BENCH_r01..r17 all have parsed:null) — the
    // tail window starts mid-line inside families_build_cost. Persist the
    // full line as an artifact keyed by core count (the driver's 8-core
    // scaling run used to overwrite the 32-core capture at a constant path),
    // and print a COMPACT summary as the FINAL stdout line (<500 bytes:
    // totals/sentinels only, no per-query maps) so the tail window always
    // contains one parseable JSON line. Additions only: the full line, its
    // keys, the timed region and the reduce are unchanged.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_full_c$cpus.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"bench artifact write failed: $e") }
    val cpusJson = cpus.toIntOption.map(_.toString).getOrElse("\"" + cpus + "\"")
    println(s"""{"metric":"total","value":$total,"unit":"sec","warm_total_sec":$warmTotal,"warm_reps":$reps,"n_queries":${results.size},"n_errors":${errors.size},"store_build_sec":$buildSec,"store_build_cold":$storeBuildCold,"cpus":$cpusJson,"sf":"$sfDir","full_artifact":"$outPath"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
