package graft.streaming

import graft.engine.{Engine, Tail}
import graft.lql.Ast.{CreatePipe, LqlException}
import graft.store.StateFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import java.io.{BufferedOutputStream, OutputStream, PrintStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant, ZoneOffset}

/** Forwarder: pumps a pipe's destination partition into an external sink
  * (reference pkg/forwarder/worker.go:65-159) — ensure the pipe, then loop
  * `SELECT FROM {logrange.pipe=<name>}` with Limit 1000 / WaitTimeout 10 s
  * from the saved position, push each batch to the sink, persist the
  * position AFTER a successful push (at-least-once,
  * reference worker.go:105-114).
  */
object Forwarder {

  /** Sink abstraction (reference pkg/forwarder/sink/sink.go:36-43). Rows
    * carry the API projection (ts, msg, tags, fields). */
  trait Sink {
    def onEvents(events: Seq[Row]): Unit
    def close(): Unit = ()
  }

  /** stdout: prints each event's message verbatim (reference
    * sink/stdout.go OnEvent). */
  final class StdoutSink(out: PrintStream = System.out) extends Sink {
    def onEvents(events: Seq[Row]): Unit =
      events.foreach(r => out.print(r.getAs[String]("msg")))
  }

  /** Syslog over TCP, one RFC5424-ish frame per event, newline-delimited
    * (reference pkg/syslog/syslog.go). Frames are buffered: the socket
    * sees one write per full buffer and one flush per batch, not one
    * write per frame. */
  final class SyslogTcpSink(host: String, port: Int,
      facility: Int = Syslog.FacilityLocal6, severity: Int = Syslog.SeverityInfo,
      hostname: String = "localhost", nlRepl: Boolean = true, lenLimit: Int = 0)
    extends Sink {
    private lazy val socket = new Socket(host, port)
    private lazy val os: OutputStream = new BufferedOutputStream(socket.getOutputStream)
    def onEvents(events: Seq[Row]): Unit = {
      events.foreach { r =>
        val line = Syslog.format(facility, severity, r.getAs[Long]("ts"),
          hostname, r.getAs[String]("tags"), r.getAs[String]("msg"), nlRepl, lenLimit)
        os.write((line + "\n").getBytes(StandardCharsets.UTF_8))
      }
      os.flush()
    }
    override def close(): Unit = socket.close()
  }

  /** Syslog over UDP — one RFC5424-ish frame per datagram, no delimiter
    * (RFC 5426 framing; the reference accepts tcp|udp in
    * pkg/syslog/config.go). */
  final class SyslogUdpSink(host: String, port: Int,
      facility: Int = Syslog.FacilityLocal6, severity: Int = Syslog.SeverityInfo,
      hostname: String = "localhost", nlRepl: Boolean = true, lenLimit: Int = 0)
    extends Sink {
    private lazy val socket = new java.net.DatagramSocket()
    private lazy val addr = java.net.InetAddress.getByName(host)
    def onEvents(events: Seq[Row]): Unit =
      events.foreach { r =>
        val line = Syslog.format(facility, severity, r.getAs[Long]("ts"),
          hostname, r.getAs[String]("tags"), r.getAs[String]("msg"), nlRepl, lenLimit)
        val bytes = line.getBytes(StandardCharsets.UTF_8)
        socket.send(new java.net.DatagramPacket(bytes, bytes.length, addr, port))
      }
    override def close(): Unit = socket.close()
  }

  /** Run the pump until `keepRunning` turns false. Creates the pipe when it
    * doesn't exist yet (EnsurePipe semantics, reference worker.go:135-152),
    * resumes from `<store root>/forwarder/<name>.pos` when present (a
    * [[StateFile]] on the store's filesystem, rewritten crash-safely). The
    * sink is closed however the loop ends, a sink or query failure
    * included (the failure still propagates). */
  def run(engine: Engine, pipeName: String, sink: Sink,
      from: Option[String] = None, where: Option[String] = None,
      limit: Int = 1000, waitTimeout: Duration = Duration.ofSeconds(10),
      poll: Duration = Duration.ofMillis(200),
      keepRunning: () => Boolean = () => true): Unit = {
    if (engine.pipes.get(pipeName).isEmpty) {
      val stmt = s"CREATE PIPE $pipeName" +
        from.map(f => s" FROM $f").getOrElse("") +
        where.map(w => s" WHERE $w").getOrElse("")
      engine.parse(stmt) match {
        case c: CreatePipe => engine.pipes.create(c)
        case other         => throw LqlException(s"unexpected: ${other.render}")
      }
    }
    val dest = engine.pipes.get(pipeName).get.destLine
    val posFile = new Path(engine.store.root, s"forwarder/$pipeName.pos")
    val fs = posFile.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
    var pos: Option[String] = StateFile.read(fs, posFile).headOption.map(_.trim).filter(_.nonEmpty)

    try {
      while (keepRunning()) {
        val posClause = pos.map(p => s""" POSITION "$p"""").getOrElse("")
        val lql = s"SELECT FROM {$dest}$posClause LIMIT $limit"
        val sel = engine.parse(lql) match { case s: graft.lql.Ast.Select => s; case _ => return }
        val (rows, tok) = Tail.queryWait(engine, sel, waitTimeout, poll)
        if (rows.nonEmpty) {
          sink.onEvents(rows.toSeq)
          // position saved only after the sink accepted the batch
          tok.foreach { t =>
            StateFile.replace(fs, posFile, Seq(t))
            pos = Some(t)
          }
        }
      }
    } finally sink.close()
  }
}

/** RFC5424-ish syslog message rendering
  * (reference pkg/syslog/message.go:43-56). */
object Syslog {

  val SeverityInfo = 6
  val FacilityLocal6 = 22 << 3

  /** `<pri>1 time host tag - - - msg`; newlines stripped, length-limited
    * with a truncation marker; time is RFC3339 with µs precision, trailing
    * zeros trimmed (Go layout `2006-01-02T15:04:05.999999Z07:00`). */
  def format(facility: Int, severity: Int, tsNs: Long, hostname: String,
      tag: String, msg0: String, nlRepl: Boolean = true, lenLimit: Int = 0): String = {
    var msg = if (nlRepl) msg0.replace("\n", "") else msg0
    if (lenLimit > 0 && msg.length > lenLimit)
      msg = msg.substring(0, lenLimit) + "... [truncated]\n"
    val pri = (facility & 0xf8) | (severity & 0x07)
    s"<$pri>1 ${goTime(tsNs)} $hostname $tag - - - $msg"
  }

  /** Go `.999999` semantics: microsecond fraction with trailing zeros
    * removed, omitted entirely when zero; `Z` for UTC. */
  private[streaming] def goTime(tsNs: Long): String = {
    val secs = Math.floorDiv(tsNs, 1000000000L)
    val micros = Math.floorMod(tsNs, 1000000000L) / 1000L
    val ldt = Instant.ofEpochSecond(secs).atZone(ZoneOffset.UTC).toLocalDateTime
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02dT" +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val frac =
      if (micros == 0) ""
      else "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
    s"$base${frac}Z"
  }
}
