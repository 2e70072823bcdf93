package graft.engine

import graft.lql.Ast._
import org.apache.spark.sql.Row

import java.time.Duration

/** Client-side select/tail loops over continuation tokens — the Spark
  * re-expression of the reference's cursor streaming:
  *
  *  - [[queryWait]] = one `Query` RPC with WaitTimeout: if the page is
  *    empty, long-poll (re-plan from the same position) until data arrives
  *    or the timeout lapses (reference api/querier.go:59-63,
  *    pkg/backend/querier.go:109-118 WaitNewData). Re-planning sees new
  *    data because each plan takes its file list from the catalog.
  *  - [[selectLoop]] = the client `Select` helper (reference
  *    api/client.go:40-75): repeat from the NextQueryRequest; bounded mode
  *    decrements the remaining limit and stops at EOF, stream mode runs
  *    until cancelled ("tail -f").
  */
object Tail {

  /** Max wait the server accepts per call (reference
    * pkg/backend/querier.go:42). */
  val MaxWaitTimeout: Duration = Duration.ofSeconds(60)

  /** One page from `sel`, long-polling up to `waitTimeout` when empty.
    * Returns the rows and the continuation token after them (None when
    * nothing was read). */
  def queryWait(engine: Engine, sel: Select,
      waitTimeout: Duration = Duration.ZERO,
      poll: Duration = Duration.ofMillis(200)): (Array[Row], Option[String]) = {
    val wait = if (waitTimeout.compareTo(MaxWaitTimeout) > 0) MaxWaitTimeout else waitTimeout
    val deadline = System.nanoTime() + wait.toNanos
    var first = true
    while (first || System.nanoTime() < deadline) {
      if (!first) Thread.sleep(poll.toMillis)
      first = false
      val (df, keys) = engine.selectWithToken(sel)
      val rows = df.collect()
      if (rows.nonEmpty) return (rows, engine.pageToken(keys))
    }
    (Array.empty, None)
  }

  /** The client stream loop. `handler` gets every non-empty page; returns
    * the last continuation token (resume point). Bounded mode (streamMode
    * = false) reads at most the statement's LIMIT in total; stream mode
    * re-polls `waitTimeout` per round until `keepRunning` turns false. */
  def selectLoop(engine: Engine, lql: String, streamMode: Boolean,
      handler: Array[Row] => Unit,
      waitTimeout: Duration = Duration.ofSeconds(10),
      poll: Duration = Duration.ofMillis(200),
      keepRunning: () => Boolean = () => true,
      startPos: Option[String] = None): Option[String] = {
    var sel = engine.parse(lql) match {
      case s: Select => s
      case other     => throw LqlException(s"not a SELECT: ${other.render}")
    }
    startPos.foreach(p => sel = sel.copy(position = Some(p)))
    var remaining = sel.limit.getOrElse(engine.MaxLimit.toLong)
    var lastTok: Option[String] = None

    while (keepRunning() && remaining > 0) {
      val cur = sel.copy(limit = Some(math.min(remaining, engine.MaxLimit.toLong)))
      val (rows, tok) = queryWait(engine, cur,
        if (streamMode) waitTimeout else Duration.ZERO, poll)
      if (rows.nonEmpty) {
        handler(rows)
        lastTok = tok.orElse(lastTok)
        // continue after the last returned row; OFFSET applies once only
        sel = sel.copy(position = tok, offset = None)
        if (!streamMode) remaining -= rows.length
      } else if (!streamMode) {
        return lastTok // EOF in bounded mode
      }
      // stream mode with an empty page: queryWait already waited; loop
      // again until cancelled
    }
    lastTok
  }
}
