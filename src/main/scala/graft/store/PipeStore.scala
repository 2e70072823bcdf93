package graft.store

import graft.engine.Engine
import graft.model.Model
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A dedicated small store exercising the PIPE lifecycle end-to-end for the
  * `lql_pipe` correctness entry (kept separate from [[EventStore]] so the
  * pipe's destination partition doesn't disturb SHOW PARTITIONS oracles).
  *
  * Build sequence — deliberately TWO ingest batches per partition with the
  * pipe created in between, so it verifies both the streaming source's
  * incremental file discovery and the (part, seq) high-water mark across
  * appends:
  *   1. ingest half the error events through [[Store.write]] (no seq given
  *      — the store generates it);
  *   2. `CREATE PIPE p1 FROM {name=error} WHERE msg CONTAINS 'k=1'` and
  *      drain the stream;
  *   3. ingest the second half, drain again, stop.
  * The entry then reads `{logrange.pipe=p1}` back through a normal SELECT.
  */
object PipeStore {

  val Version = "v4" // round 6: catalog-driven PipeWorker build path

  /** On-disk cache root for `sfDir` — same regeneration-proof cache key
    * (and root-keyed in-JVM memo) as EventStore; see
    * [[EventStore.dataFingerprint]]. */
  def storeRoot(sfDir: String): String = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    s"/tmp/graft/pipestore-$Version-${EventStore.dataFingerprint(sfDir)}-$name"
  }

  def engine(spark: SparkSession, sfDir: String): Engine = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    EventStore.fixtureEngine(spark, storeRoot(sfDir), Some((s"pipestore-$Version-", name)))(
      build(spark, sfDir, _))
  }

  private def build(spark: SparkSession, sfDir: String, eng: Engine): Unit = {
    val rows = EventStore.mappedRows(spark, sfDir)
      .where(col("part").endsWith("name=error"))
      .cache()

    def ingest(half: Int): Unit =
      (0 to 3).foreach { h =>
        val tags = Map("host" -> s"host$h", "name" -> "error")
        val line = Model.tagLine(tags)
        val ev = rows
          .where(col("part") === line && pmod(col("seq"), lit(2)) === half)
          .select(col("ts"), col("msg"), col("fields"))
        eng.store.write(tags, Map.empty, ev)
      }

    ingest(0)
    eng.execute("CREATE PIPE p1 FROM {name=error} WHERE msg CONTAINS 'k=1'")
    eng.pipes.processAllAvailable()
    ingest(1)
    eng.pipes.processAllAvailable()
    eng.pipes.stopAll()
    rows.unpersist()
  }
}

/** A dedicated store exercising CDC dedup-on-ingest through the pipe
  * lifecycle for the `lql_pipe_cdc` entry (round-13 directive 7): the
  * pipe's worker gates every trigger's rows against its persisted
  * chunk-hash index, so a second batch's rows whose ENTIRE content
  * already flowed through the pipe are dropped — filter ∧ dedup, where
  * the reference's pipe is only a filter.
  *
  * Build sequence (trigger boundaries are deterministic: each ingest
  * half's registration groups fit one trigger, drained before the next
  * half lands):
  *   1. project the error events with an ENGINEERED duplicate density —
  *      rows whose k ≡ 0 (mod 3) collapse to one recurring boilerplate
  *      line (the oracle replays the same projection);
  *   2. ingest even-seq rows, `CREATE PIPE pcdc FROM {name=error}` on a
  *      cdcDedup service, drain — the first batch gates against an
  *      empty index, so everything passes and its chunks seed the index;
  *   3. ingest odd-seq rows, drain — rows with NO novel chunk (repeated
  *      boilerplate, genuinely duplicated user/k messages) drop; any row
  *      with at least one fresh chunk passes.
  * The entry reads `{logrange.pipe=pcdc}` back through a normal SELECT;
  * the oracle recomputes the keep set from first principles over the
  * SAME chunk-boundary definition ([[graft.llm.Dedup.cdcChunkCtesOver]]).
  */
object CdcPipeStore {

  val Version = "v1"

  /** The engineered-duplicate projection, Spark side (oracle twin inline
    * in LqlQueries): k ≡ 0 (mod 3) rows collapse to this line. */
  val Boilerplate = "recurring boilerplate failure alpha"

  def engine(spark: SparkSession, sfDir: String): Engine = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val root = s"/tmp/graft/cdcpipestore-$Version-${EventStore.dataFingerprint(sfDir)}-$name"
    EventStore.fixtureEngine(spark, root, Some((s"cdcpipestore-$Version-", name)))(
      build(spark, sfDir, _))
  }

  private def build(spark: SparkSession, sfDir: String, eng: Engine): Unit = {
    val k = col("fields").getItem("k")
    val rows = EventStore.mappedRows(spark, sfDir)
      .where(col("part").endsWith("name=error"))
      .withColumn("msg",
        when(k.cast("long") % 3 === 0, lit(Boilerplate)).otherwise(col("msg")))
      .cache()

    def ingest(half: Int): Unit =
      (0 to 3).foreach { h =>
        val tags = Map("host" -> s"host$h", "name" -> "error")
        val line = Model.tagLine(tags)
        val ev = rows
          .where(col("part") === line && pmod(col("seq"), lit(2)) === half)
          .select(col("ts"), col("msg"))
        eng.store.write(tags, Map.empty, ev)
      }

    // a CDC-enabled service SEPARATE from the engine's default one — the
    // registration file is shared, so the engine still lists the pipe.
    // The BACKGROUND loop must not race the four per-host writes of a
    // half into separate triggers (the gate is trigger-granular; the
    // oracle models the deterministic HALF granularity, which holds
    // exactly when each half drains as ONE trigger at the explicit
    // processAllAvailable points) — so the worker THREAD is stopped
    // right after create and the build drives triggers itself.
    val svc = new graft.streaming.PipeService(eng.store, cdcDedup = true)
    ingest(0)
    svc.create(new graft.lql.Parser(() => java.time.Instant.now())
      .parse("CREATE PIPE pcdc FROM {name=error}") match {
        case Right(c: graft.lql.Ast.CreatePipe) => c
        case other => sys.error(s"unreachable: $other")
      })
    svc.worker("pcdc").foreach(_.stop()) // kill the poll thread, keep the worker
    svc.processAllAvailable()
    ingest(1)
    svc.processAllAvailable()
    svc.stopAll()
    rows.unpersist()
  }
}
