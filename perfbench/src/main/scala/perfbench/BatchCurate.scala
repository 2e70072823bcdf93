package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The input tables of `batch_curate`: the schemas of the engine's
  * synthetic test tables that its entries read (TPC-H-like star schema, an
  * events stream, documents) at their smallest scale, every row a pure
  * function of (seed, table, row id). The workload generates them from
  * one fixed seed, like a shipped data set, and takes its run seed only
  * for the row permutations. */
object CurateData {
  val BaseSeed = 42L
  val Docs = 500
  val Events = 1000
  val Users = 15
  val Customers = 150
  val Orders = 1500
  val LineItems = 6000
  val Parts = 200
  val Suppliers = 10

  private val Vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val Langs = Vector("en" -> 41, "zh" -> 56, "es" -> 71, "fr" -> 86, "de" -> 100)
  private val EventTypes = Vector("click", "purchase", "error", "signup", "view")
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Jan2024Us = 1704067200000000L
  private val Jan1995Us = 788918400000000L
  private val DayUs = 86400000000L

  private def rnd(seed: Long, table: Int, id: Long) =
    new java.util.SplittableRandom(Gen.mix(seed, id, 1000L + table))
  private def cents(r: java.util.SplittableRandom, hi: Int): Double = r.nextInt(hi * 100) / 100.0
  private def ts(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Text of document `id`; every 17th document repeats its predecessor
    * so exact and near duplicates exist. */
  private def text(seed: Long, id: Long): String =
    if (id > 0 && id % 17 == 0) text(seed, id - 1)
    else {
      val r = rnd(seed, 1, id)
      Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }

  /** Table name → (schema, rows), rows in id order. */
  def tables(seed: Long): Seq[(String, StructType, IndexedSeq[Row])] = {
    def schema(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    val documents = (0 until Docs).map { i =>
      val r = rnd(seed, 2, i)
      val t = text(seed, i)
      val u = r.nextInt(100)
      Row(i.toLong, t, Langs.find(_._2 > u).get._1, s"src${r.nextInt(20)}", t.length.toLong)
    }
    val events = (0 until Events).map { i =>
      val r = rnd(seed, 4, i)
      Row(i.toLong, ts(Jan2024Us + (r.nextDouble() * 30 * DayUs).toLong), r.nextInt(Users).toLong,
        EventTypes(r.nextInt(EventTypes.size)), math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until Customers).map { i =>
      val r = rnd(seed, 5, i)
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, 10000), Segments(r.nextInt(5)))
    }
    val orders = (0 until Orders).map { i =>
      val r = rnd(seed, 6, i)
      Row(i.toLong, r.nextInt(Customers).toLong, Seq("F", "O", "P")(r.nextInt(3)), cents(r, 500000),
        ts(Jan1995Us + r.nextInt(2405) * DayUs), Priorities(r.nextInt(5))) // 1995-01-01 .. 2001-08-01
    }
    val lineitem = (0 until LineItems).map { i =>
      val r = rnd(seed, 7, i)
      Row(r.nextInt(Orders).toLong, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, 1 + i % 7,
        (1 + r.nextInt(50)).toDouble, cents(r, 100000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        ts(Jan1995Us + (1 + r.nextInt(2498)) * DayUs)) // 1995-01-02 .. 2001-11-04
    }
    Seq(
      ("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), customer),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), lineitem))
  }

  /** Write every table to `dir`, rows permuted by `perm` (identity when
    * None), one file per table. */
  def write(spark: SparkSession, tables: Seq[(String, StructType, IndexedSeq[Row])], dir: String,
      perm: Option[Long]): Unit =
    tables.foreach { case (name, schema, rows) =>
      val ordered = perm.fold(rows)(p => new scala.util.Random(p).shuffle(rows))
      spark.createDataFrame(spark.sparkContext.parallelize(ordered, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    }
}

/** `batch_curate`: sequential passes of a fixed entry list, each pass over
  * a fresh row-permuted copy of the seeded tables, every entry reduced to
  * one order-independent hash that must equal its hash on the tables in
  * generated row order. */
object BatchCurate {
  val MinPasses = 5

  /** One entry reduced as the engine's own bench does: xxhash64 of every
    * output column, folded with bit_xor; returned with the row count. */
  def hash(df: DataFrame): (Long, Long) = {
    val h = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (h.getLong(0), if (h.isNullAt(1)) 0L else h.getLong(1))
  }

  /** Entries whose (rows, hash) on the generated tables is empty: an empty
    * result would pass every order check, so set-up refuses it. */
  def empty(expected: Map[String, (Long, Long)]): Seq[String] =
    expected.collect { case (n, (rows, h)) if rows == 0 || h == 0 => n }.toSeq.sorted

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val trace = ctx.tracer
    val all = graft.SparkEntry.queries
    val entries = Report.CurateEntries.map(n => n -> all(n))

    val tb = System.nanoTime()
    val tables = CurateData.tables(CurateData.BaseSeed)
    val canon = ctx.freshDir("canon")
    CurateData.write(spark, tables, canon, None)
    val buildS = (System.nanoTime() - tb) / 1e9

    // warm-up: one untimed pass over the tables in generated order, which
    // also fixes every entry's expected hash
    val tw = System.nanoTime()
    val expected = entries.map { case (n, f) => n -> hash(f(spark, canon)) }.toMap
    val none = empty(expected)
    require(none.isEmpty, s"entries with an empty result on the generated tables: ${none.mkString(", ")}")
    ctx.setupDone(buildS, (System.nanoTime() - tw) / 1e9)

    val passMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    val entryS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    ctx.startTimed()
    var busyNs = 0L
    var pass = 0
    // at least five passes, so the median spans a longer stretch of the run
    // and a traced run has traced and untraced passes
    while (busyNs < ctx.seconds * 1e9 || pass < MinPasses) {
      val dir = ctx.freshDir(s"pass$pass")
      CurateData.write(spark, tables, dir, Some(Gen.mix(ctx.seed, pass.toLong, 99)))
      val on = ctx.traced && pass % 2 == 0
      val got = mutable.ArrayBuffer.empty[(String, (Long, Long))]
      val t0 = System.nanoTime()
      trace.sample(on)(trace.span("op") {
        entries.foreach { case (n, f) =>
          val e0 = System.nanoTime()
          trace.span(s"queries.$n") {
            val df = trace.span("queries.build")(f(spark, dir))
            got += n -> trace.span("queries.exec")(hash(df))
          }
          entryS.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (System.nanoTime() - e0) / 1e9
        }
      })
      val dt = System.nanoTime() - t0
      busyNs += dt
      passMs += dt / 1e6
      (if (on) tracedMs else untracedMs) += dt / 1e6
      ctx.opEnd()
      got.foreach { case (n, h) =>
        r.check(h == expected(n),
          s"$n: (rows, hash) $h on row-permuted copy $pass differs from ${expected(n)} in generated order")
      }
      pass += 1
    }
    ctx.endTimed()

    r.put("batch_pass_s", Stats.median(passMs.toSeq) / 1e3, "s", s"p50, n=${passMs.size}")
    entryS.foreach { case (n, xs) => r.put(s"entry.${n}_s", Stats.median(xs.toSeq), "s", s"p50, n=${xs.size}") }
    r.put("latency_p50_ms", Stats.median(passMs.toSeq), "ms", s"batch_pass_s in ms, n=${passMs.size}")
    r.put("ops_per_s", passMs.size * entries.size / (busyNs / 1e9), "1/s", "entries completed per second")

    if (ctx.traced) {
      ctx.overhead(untracedMs.toSeq, tracedMs.toSeq)
      val ops = ctx.timedOps("op")
      entries.foreach { case (n, _) =>
        val ss = trace.all.filter(s => s.name == s"queries.$n" && ops.exists(_.op == s.op))
        if (ss.nonEmpty) r.put(s"queries.${n}_s", Stats.median(ss.map(_.durNs / 1e9)), "s", s"p50, n=${ss.size}")
      }
      val builds = trace.all.filter(s => s.name == "queries.build" && ops.exists(_.op == s.op))
      ctx.listener.foreach { l =>
        val ids = builds.map(_.id).toSet
        r.put("queries.build_jobs", l.jobList.count(j => ids(j.span)).toDouble / math.max(1, ops.size),
          "count", s"jobs started while building entry frames, per pass, n=${ops.size}")
      }
      r.put("queries.build_s", builds.map(_.durNs).sum / 1e9 / math.max(1, ops.size), "s", "per pass")
      ctx.sparkPerOp(ops)
    }
  }
}
