package perfbench

import graft.engine.{Engine, Tail}
import graft.lql.Ast.Select
import graft.store.Store
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The static store of `lql_read`, as a pure function of (seed, id).
  *
  * Records come in tie groups of [[Tie]] consecutive ids that share one
  * `ts` and land in distinct partitions, so every page crosses ts ties
  * across partitions while (ts, part) stays unique; the store's order
  * (ts, part, seq) is then the order (ts, part line) this model sorts by. */
final class LqlModel(val seed: Long, val records: Int) {
  import LqlModel._

  def group(id: Long): Long = id / Tie
  def ts(id: Long): Long = {
    val g = group(id)
    T0 + g * StepNs + Gen.below(Gen.mix(seed, g, 1), StepNs / 2)
  }
  def part(id: Long): Int = {
    val g = group(id)
    val j = (id % Tie).toInt
    ((Gen.below(Gen.mix(seed, g, 2), Parts) + j * (Parts / Tie)) % Parts).toInt
  }
  def lvl(id: Long): String = Levels(Gen.below(Gen.mix(seed, id, 3), Levels.size).toInt)
  def code(id: Long): String = f"${Gen.below(Gen.mix(seed, id, 4), 1000)}%03d"
  def word(id: Long): String = Words(Gen.below(Gen.mix(seed, id, 5), Words.size).toInt)
  def msg(id: Long): String =
    s"evt $id user=u${Gen.below(Gen.mix(seed, id, 6), 1000)} path=/api/${word(id)} status=${code(id)}"
  def fieldsKv(id: Long): String = s"lvl=${lvl(id)},code=${code(id)}"

  /** Record ids in store order (ts, part line). */
  val order: Array[Int] = {
    val out = new Array[Int](records)
    var i = 0
    while (i < records) {
      val n = math.min(Tie, records - i)
      val ids = (i until i + n).sortBy(id => line(part(id.toLong)))
      ids.indices.foreach(k => out(i + k) = ids(k))
      i += n
    }
    out
  }
  private val orderTs: Array[Long] = order.map(id => ts(id.toLong))

  /** Index of the first record at or after `t` in store order. */
  def firstAtOrAfter(t: Long): Int = {
    var lo = 0; var hi = records
    while (lo < hi) { val m = (lo + hi) >>> 1; if (orderTs(m) < t) lo = m + 1 else hi = m }
    lo
  }

  /** Store-order ids of the records in `parts` with ts in [lo, hi]
    * passing `pred`, from `from` on, at most `max`. */
  def scan(parts: Set[Int], lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
      pred: Int => Boolean = _ => true, max: Int = Int.MaxValue): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    var n = 0
    var i = if (lo == Long.MinValue) 0 else firstAtOrAfter(lo)
    while (i < records && n < max && orderTs(i) <= hi) {
      val id = order(i)
      if (parts(part(id.toLong)) && pred(id)) { out += id; n += 1 }
      i += 1
    }
    out.result()
  }

  /** The last `n` matching records, in store order. */
  def last(parts: Set[Int], n: Int): Vector[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    var i = records - 1
    while (i >= 0 && out.size < n) {
      val id = order(i)
      if (parts(part(id.toLong))) out += id
      i -= 1
    }
    out.reverse.toVector
  }

  /** One expected API row: (ts, msg, tags, fields). */
  def row(id: Int): (Long, String, String, String) =
    (ts(id.toLong), msg(id.toLong), line(part(id.toLong)), fieldsKv(id.toLong))

  def appParts(app: Int): Set[Int] = (0 until Parts).filter(_ % Apps == app).toSet
  def countIn(p: Int): Int = (0 until records).count(i => part(i.toLong) == p)
  def span: (Long, Long) = (orderTs(0), orderTs(records - 1))

  /** Generated rows of ids [from, until) in the store's ingest shape. */
  def frame(spark: SparkSession, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    val s = seed
    spark.range(from, until, 1, 4).mapPartitions { ids =>
      val m = new LqlModel(s, 0)
      ids.map { id =>
        val i = id.longValue()
        (m.ts(i), m.msg(i), m.lvl(i), m.code(i), LqlModel.line(m.part(i)))
      }
    }.toDF("ts", "msg", "lvl", "code", "part")
      .select(col("ts"), col("msg"),
        map(lit("lvl"), col("lvl"), lit("code"), col("code")).as("fields"), col("part"))
  }
}

object LqlModel {
  val Tie = 3
  val Parts = 120
  val Apps = 24
  val T0 = 1700000000000000000L
  val StepNs = 1000000L
  val Levels = Vector("debug", "info", "warn", "error")
  val Words = Vector("orders", "users", "cart", "search", "login", "items", "stock", "pay")

  def line(p: Int): String = f"app=a${p % Apps}%02d,host=h$p%03d"
}

/** `lql_read`: one closed-loop client runs a fixed cycle of LQL statement
  * classes, parameters drawn from the seed, over a static store. */
object LqlRead {
  val Records = 60000
  val MaxRecordsPerFile = 250

  /** Scan metrics of an executed plan (AQE stages included). */
  private[perfbench] object Scans extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): (Long, Long) = {
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
        scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
    }
  }

  final case class Result(rows: Seq[Row], token: Option[String])

  /** The model's records in a fresh store under `root`, in one append. */
  def build(spark: SparkSession, model: LqlModel, root: String, maxRecordsPerFile: Long): Store = {
    val store = new Store(spark, root)
    store.appendWithSeq(model.frame(spark, 0, model.records.toLong), maxRecordsPerFile = maxRecordsPerFile)
    store.catalog.partSummaries()
    store
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val model = new LqlModel(ctx.seed, Records)

    val tb = System.nanoTime()
    val engine = new Engine(build(spark, model, ctx.freshDir("store"), MaxRecordsPerFile))
    val buildS = (System.nanoTime() - tb) / 1e9
    val stmts = new Statements(model, ctx.seed)

    val trace = ctx.tracer
    val client = new Client(engine, trace)
    import client.exec

    // warm-up: one untimed cycle over every statement class, checked
    val tw = System.nanoTime()
    (0 until Statements.Classes).foreach { i =>
      val s = stmts(i)
      stmts.check(s, exec(s), r)
    }
    ctx.setupDone(buildS, (System.nanoTime() - tw) / 1e9)

    // timed phase: closed loop, one client, until `seconds` of client time
    val lat = mutable.ArrayBuffer.empty[Double]
    val byClass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val done = mutable.ArrayBuffer.empty[(Statements.Stmt, Result)]
    ctx.startTimed()
    var busyNs = 0L
    var i = 0
    // whole cycles only, so every class weighs the same in every run, and
    // at least two, so a traced run has traced and untraced cycles
    while (busyNs < ctx.seconds * 1e9 || i % Statements.Classes != 0 || i < 2 * Statements.Classes) {
      val s = stmts(Statements.Classes + i)
      // a traced run alternates traced and untraced cycles to measure
      // its own overhead
      val on = ctx.traced && (i / Statements.Classes) % 2 == 0
      val t0 = System.nanoTime()
      val res = trace.sample(on)(trace.span("op")(exec(s)))
      val dt = System.nanoTime() - t0
      busyNs += dt
      lat += dt / 1e6
      byClass.getOrElseUpdate(s.cls, mutable.ArrayBuffer.empty) += dt / 1e6
      (if (on) traced else untraced) += dt / 1e6
      done += (s -> res)
      ctx.opEnd()
      i += 1
    }
    ctx.endTimed()
    done.foreach { case (s, res) => stmts.check(s, res, r) }

    r.timing("query", lat.toSeq)
    r.put("queries_per_s", lat.size / (busyNs / 1e9), "1/s", s"n=${lat.size}")
    byClass.foreach { case (c, xs) => r.timing(s"query.$c", xs.toSeq) }
    // the classes cost very differently, so a median pooled over them falls
    // on a class boundary and jumps between classes from run to run; each
    // class is summarised on its own and the classes weigh the same
    val classP50 = byClass.values.map(xs => Stats.median(xs.toSeq))
    r.put("latency_p50_ms", classP50.sum / classP50.size, "ms",
      s"mean of the ${classP50.size} per-class query_p50_ms, n=${lat.size}")
    r.put("ops_per_s", lat.size / (busyNs / 1e9), "1/s", "queries_per_s")
    ctx.storeFootprint(engine.store, model.records.toLong)

    if (ctx.traced) {
      ctx.overhead(untraced.toSeq, traced.toSeq)
      val ops = ctx.timedOps("op")
      ctx.spanP50(ops, "lql.parse", "lql.parse_ms")
      ctx.spanP50(ops, "engine.prune", "engine.prune_ms")
      ctx.spanP50(ops, "engine.build", "engine.build_ms")
      ctx.jobsPer(ops, "engine.build", "engine.build_jobs")
      ctx.spanP50(ops, "engine.token", "engine.token_ms")
      ctx.spanP50(ops, "engine.tail_poll", "engine.tail_poll_ms")
      ctx.spanP50(ops, "spark.plan", "spark.plan_ms")
      ctx.spanP50(ops, "spark.exec", "spark.exec_ms")
      import client.{files, inRange, readRatio}
      if (files.nonEmpty) {
        r.put("scan.files_read", Stats.median(files.toSeq), "count", s"p50 per page, n=${files.size}")
        r.put("scan.files_in_range", Stats.median(inRange.toSeq), "count", s"p50 per page, n=${inRange.size}")
      }
      if (readRatio.nonEmpty)
        r.put("scan.rows_read_per_row_returned", Stats.median(readRatio.toSeq), "ratio",
          s"p50 per page, n=${readRatio.size}")
      ctx.sparkPerOp(ops)
      ctx.storeLayer(engine.store)
    }
  }
}

/** One closed-loop client: runs a statement through the engine's public
  * API, recording spans (and, when traced, scan counts) per layer. */
final class Client(engine: Engine, trace: Tracer) {
  val files = mutable.ArrayBuffer.empty[Double]
  val inRange = mutable.ArrayBuffer.empty[Double]
  val readRatio = mutable.ArrayBuffer.empty[Double]

  /** Parse → build → plan → execute one SELECT page. */
  def page(lql: String, withToken: Boolean): LqlRead.Result = {
    val sel = trace.span("lql.parse")(engine.parse(lql)).asInstanceOf[Select]
    val parts = if (trace.active) trace.span("engine.prune")(engine.prune(sel.source)) else Nil
    val (df, keys) = trace.span("engine.build")(engine.selectWithToken(sel))
    if (trace.active) trace.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = trace.span("spark.exec")(df.collect()).toSeq
    if (trace.active) {
      val (f, read) = LqlRead.Scans.of(df.queryExecution.executedPlan)
      files += f.toDouble
      val range = sel.range.map(x => (x.t1.getOrElse(0L), x.t2.getOrElse(Long.MaxValue)))
      inRange += engine.store.catalog.entriesForParts(parts).valuesIterator.flatten
        .count(e => range.forall { case (lo, hi) => e.maxTs >= lo && e.minTs <= hi }).toDouble
      if (rows.nonEmpty) readRatio += read.toDouble / rows.size
    }
    val tok = if (withToken) trace.span("engine.token")(engine.pageToken(keys)) else None
    LqlRead.Result(rows, tok)
  }

  def exec(s: Statements.Stmt): LqlRead.Result = s.kind match {
    case Statements.Page => page(s.lql, withToken = false)
    case Statements.Walk =>
      var res = page(s.lql, withToken = true)
      val all = mutable.ArrayBuffer.empty[Row] ++= res.rows
      (2 to Statements.WalkPages).foreach { _ =>
        res.token.foreach { t =>
          res = page(s.lql.replace(" LIMIT", s""" POSITION "$t" LIMIT"""), withToken = true)
          all ++= res.rows
        }
      }
      LqlRead.Result(all.toSeq, None)
    case Statements.Back =>
      val first = page(s.lql, withToken = true)
      val back = page(s.lql.replace(" LIMIT",
        s""" POSITION "${first.token.getOrElse("head")}" OFFSET -${s.n} LIMIT"""), withToken = false)
      LqlRead.Result(first.rows ++ back.rows, None)
    case Statements.Loop =>
      val rows = mutable.ArrayBuffer.empty[Row]
      trace.span("engine.tail_poll")(Tail.selectLoop(engine, s.lql, streamMode = false,
        (page: Array[Row]) => rows ++= page))
      LqlRead.Result(rows.toSeq, None)
    case Statements.Admin =>
      val df = trace.span("engine.build")(engine.execute(s.lql))
      LqlRead.Result(trace.span("spark.exec")(df.collect()).toSeq, None)
  }
}

/** The statement cycle of `lql_read` and the expectation for each. */
final class Statements(model: LqlModel, seed: Long) {
  import Statements._
  import LqlModel._

  private val (t0, t1) = model.span

  def apply(i: Int): Stmt = {
    val rnd = new java.util.SplittableRandom(Gen.mix(seed, i.toLong, 77))
    val app = rnd.nextInt(Apps)
    val parts = model.appParts(app)
    val from = f"app=a$app%02d"
    val hostA = rnd.nextInt(Parts)
    val hostB = rnd.nextInt(Parts)
    // a start inside the first 80% of the history, so pages fill
    val at = t0 + (rnd.nextDouble() * 0.8 * (t1 - t0)).toLong
    i % Classes match {
      case 0 =>
        val n = 50 + rnd.nextInt(150)
        Stmt("head", s"SELECT FROM $from LIMIT $n", Page, n, parts)
      case 1 =>
        val n = 20 + rnd.nextInt(180)
        Stmt("tail", s"SELECT FROM $from POSITION tail OFFSET -$n LIMIT $n", Page, n, parts)
      case 2 =>
        Stmt("walk", s"""SELECT FROM $from RANGE ["$at":"$t1"] LIMIT 100""", Walk, 100, parts, lo = at)
      case 3 =>
        val w = Words(rnd.nextInt(Words.size))
        val c = f"${rnd.nextInt(1000)}%03d"
        val lvl = Levels(rnd.nextInt(Levels.size))
        rnd.nextInt(3) match {
          case 0 => Stmt("where", s"""SELECT FROM $from WHERE msg CONTAINS "path=/api/$w" AND fields:code > "$c" LIMIT 100""",
            Page, 100, parts, pred = id => model.msg(id.toLong).contains(s"path=/api/$w") && model.code(id.toLong) > c)
          case 1 => Stmt("where", s"""SELECT FROM $from WHERE msg PREFIX "evt 1" AND fields:lvl = "$lvl" LIMIT 100""",
            Page, 100, parts, pred = id => model.msg(id.toLong).startsWith("evt 1") && model.lvl(id.toLong) == lvl)
          case _ => Stmt("where", s"""SELECT FROM $from WHERE fields:code <= "$c" OR msg CONTAINS "status=99" LIMIT 100""",
            Page, 100, parts, pred = id => model.code(id.toLong) <= c || model.msg(id.toLong).contains("status=99"))
        }
      case 4 =>
        // a window of ~1.5k records of the app, read through the client loop
        val width = StepNs * 2000L
        Stmt("range", s"""SELECT FROM $from RANGE ["$at":"${at + width}"] LIMIT 10000""", Loop, 10000,
          parts, lo = at, hi = at + width)
      case 5 =>
        val sel = parts + hostA + hostB
        val off = rnd.nextInt(500)
        Stmt("from_expr", s"SELECT FROM $from OR host=${f"h$hostA%03d"} OR host=${f"h$hostB%03d"} OFFSET $off LIMIT 200",
          Page, 200, sel, skip = off)
      case 6 =>
        Stmt("format", s"""SELECT '{vars:host}|{vars:lvl}|{msg}' FROM $from RANGE ["$at":"$t1"] LIMIT 200""",
          Page, 200, parts, lo = at)
      case 7 =>
        Stmt("show", s"SHOW PARTITIONS $from LIMIT 50", Admin, 50, parts)
      case 8 =>
        Stmt("describe", s"DESCRIBE PARTITION {${LqlModel.line(hostA)}}", Admin, 0, Set(hostA))
      case _ =>
        val k = 100 + rnd.nextInt(200)
        val m = 1 + rnd.nextInt(150)
        Stmt("back", s"""SELECT FROM $from RANGE ["$at":"$t1"] LIMIT $k""", Back, m, parts, lo = at, skip = k)
    }
  }

  private def api(r: Row): (Long, String, String, String) =
    (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))

  /** Compare one statement's output with the model's expectation. */
  def check(s: Stmt, res: LqlRead.Result, rep: Report): Unit = {
    def same(exp: Seq[Int]): Unit = {
      val got = res.rows.map(api)
      val want = exp.map(model.row)
      rep.check(got == want, s"${s.cls}: '${s.lql}' returned ${got.size} rows, expected ${want.size}" +
        got.zip(want).find(p => p._1 != p._2).map(p => s"; first difference ${p._1} vs ${p._2}").getOrElse(""))
    }
    s.cls match {
      case "head" | "where" | "from_expr" =>
        same(model.scan(s.parts, pred = s.pred, max = s.skip + s.n).drop(s.skip))
      case "tail" => same(model.last(s.parts, s.n))
      case "walk" => same(model.scan(s.parts, lo = s.lo, max = WalkPages * s.n))
      case "range" => same(model.scan(s.parts, lo = s.lo, hi = s.hi))
      case "back" =>
        // the first page ends at row f; the second backs up n rows from
        // there and reads forward one page
        val fwd = model.scan(s.parts, lo = s.lo, max = 2 * s.skip + s.n)
        val f = math.min(s.skip, fwd.size)
        val from = math.max(0, f - s.n)
        same(fwd.take(f) ++ fwd.slice(from, from + s.skip))
      case "format" =>
        val want = model.scan(s.parts, lo = s.lo, max = s.n).map { id =>
          val p = model.part(id.toLong)
          (model.ts(id.toLong), f"h$p%03d|${model.lvl(id.toLong)}|${model.msg(id.toLong)}")
        }
        val got = res.rows.map(r => (r.getLong(0), r.getString(1)))
        rep.check(got == want, s"format: '${s.lql}' returned ${got.size} rows, expected ${want.size}" +
          got.zip(want).find(p => p._1 != p._2).map(p => s"; first difference ${p._1} vs ${p._2}").getOrElse(""))
      case "show" =>
        val got = res.rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val want = s.parts.toSeq.map(p => LqlModel.line(p) -> model.countIn(p).toLong).toMap
        val sizes = got.map(_._2)
        rep.check(got.size == want.size && got.forall(g => want.get(g._1).contains(g._3)) &&
          sizes.zip(sizes.drop(1)).forall { case (a, b) => a >= b } && sizes.forall(_ > 0),
          s"show: '${s.lql}' returned $got, expected records $want by size descending")
      case "describe" =>
        val p = s.parts.head
        val recs = res.rows.map(_.getLong(2)).sum
        val ts = (0 until model.records).filter(i => model.part(i.toLong) == p).map(i => model.ts(i.toLong))
        val got = (recs, res.rows.map(_.getLong(4)).minOption, res.rows.map(_.getLong(5)).maxOption)
        val want = (ts.size.toLong, ts.minOption, ts.maxOption)
        rep.check(got == want, s"describe: '${s.lql}' gave (records, min ts, max ts) $got, expected $want")
    }
  }
}

object Statements {
  val Classes = 10
  val WalkPages = 5

  sealed trait Kind
  case object Page extends Kind
  case object Walk extends Kind
  case object Back extends Kind
  case object Loop extends Kind
  case object Admin extends Kind

  /** One statement: class, LQL text, how it runs, and what it must return
    * (`n` rows of `parts` matching `pred` in [lo, hi] after `skip`). */
  final case class Stmt(cls: String, lql: String, kind: Kind, n: Int, parts: Set[Int],
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue, skip: Int = 0,
      pred: Int => Boolean = _ => true)
}
