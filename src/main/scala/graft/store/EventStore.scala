package graft.store

import graft.engine.Engine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Materializes the canonical LogEvent store from the driver's synthetic
  * `events.parquet` through the real ingest path ([[Store.append]]), so the
  * LQL entries in SparkEntry exercise partition pruning / catalog / footers
  * end-to-end.
  *
  * Mapping (mirrored EXACTLY by [[EventStore.oracleCte]] on the DuckDB
  * side — both sides must stay in sync):
  *   tags    = {host=host<user_id%4>, name=<event_type>}  (20 partitions)
  *   msg     = "user <user_id> <event_type> k=<k>"  where k is the digit
  *             run in props
  *   fields  = {user=<user_id>, k=<k>}
  *   seq     = event_id  (globally monotonic = arrival order)
  *   ts      = the event's int64-nanosecond timestamp
  */
object EventStore {

  /** Bump when the mapping or store layout changes — the on-disk cache is
    * keyed by it. */
  val Version = "v2"

  /** (size, mtime) fingerprint of a testdata dir's events table — the ONE
    * key scheme for every derived on-disk store cache ([[storeRoot]],
    * [[PipeStore]]): the driver regenerates testdata between rounds, and a
    * store built from the old file must not be served for the new one
    * (the marker-file reuse is cross-JVM, so a version string alone
    * cannot see the swap). */
  private[store] def dataFingerprint(sfDir: String): String = {
    val f = new java.io.File(s"$sfDir/events.parquet")
    java.lang.Long.toHexString(f.length * 31 + f.lastModified)
  }

  /** Delete superseded fingerprint-keyed cache dirs (`prefix-*-name`
    * siblings of `keep`) — without this every regeneration would abandon
    * a full store on /tmp forever. */
  private[store] def dropStaleSiblings(keep: String, prefix: String, name: String): Unit = {
    val dir = new java.io.File(keep).getParentFile
    val stale = Option(dir.listFiles()).getOrElse(Array.empty).filter { f =>
      f.getName.startsWith(prefix) && f.getName.endsWith(s"-$name") &&
        f.getAbsolutePath != keep
    }
    stale.foreach(rm)
  }

  /** Delete a local file or directory tree (best effort). */
  private[graft] def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  // every fixture store's engine, keyed by its root
  private val engines = scala.collection.concurrent.TrieMap.empty[String, Engine]

  /** The engine over the fixture store at `root`, built at most once per
    * JVM: a root holding a `_BUILT` marker is reused across JVMs, anything
    * else there is wiped and rebuilt by `build`. `stale` = the
    * (prefix, name) of the root's fingerprint-keyed siblings to drop
    * ([[dropStaleSiblings]]) before. */
  private[store] def fixtureEngine(spark: SparkSession, root: String,
      stale: Option[(String, String)])(build: Engine => Unit): Engine =
    engines.getOrElseUpdate(root, {
      stale.foreach { case (prefix, name) => dropStaleSiblings(root, prefix, name) }
      val eng = new Engine(new Store(spark, root))
      val marker = new java.io.File(s"$root/_BUILT")
      if (!marker.exists()) {
        rm(new java.io.File(root))
        build(eng)
        marker.getParentFile.mkdirs()
        marker.createNewFile()
      }
      eng
    })

  def storeRoot(sfDir: String): String = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    s"/tmp/graft/store-$Version-${dataFingerprint(sfDir)}-$name"
  }

  /** Get (building if needed) the engine over the LogEvent store for a
    * testdata dir. Thread-safe within the JVM; the on-disk store is reused
    * across JVMs via a marker file. Keyed by the RESOLVED root (not the
    * sfDir), so a mid-JVM testdata regeneration can't split-brain the
    * in-memory engine against the root that [[storeRoot]] callers
    * (Bench, the connector entries) recompute. */
  def engine(spark: SparkSession, sfDir: String): Engine = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    fixtureEngine(spark, storeRoot(sfDir), Some((s"store-$Version-", name)))(eng =>
      build(spark, sfDir, eng.store))
  }

  /** The canonical events→LogEvent mapping (ts, msg, fields, seq, part),
    * shared with [[PipeStore]]. */
  def mappedRows(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val k = regexp_extract(col("props"), "[0-9]+", 0)
    ev.select(
      col("ts"), // LongType ns — normalized by Tables.load
      concat(lit("user "), col("user_id"), lit(" "), col("event_type"), lit(" k="), k).as("msg"),
      map(lit("user"), col("user_id").cast("string"), lit("k"), k).as("fields"),
      col("event_id").as("seq"),
      concat(lit("host=host"), pmod(col("user_id"), lit(4)), lit(",name="), col("event_type")).as("part"))
  }

  private def build(spark: SparkSession, sfDir: String, store: Store): Unit = {
    // a few files ("chunks") per partition at bench scale, one at sf0.01
    store.append(mappedRows(spark, sfDir), maxRecordsPerFile = 2000)
  }

  /** DuckDB CTE defining the identical LogEvent view over `events` — the
    * base of every LQL oracle. `tags` is the canonical tag line (host sorts
    * before name), `fields` the kv-string rendering. */
  val oracleCte: String =
    """WITH le AS (
      |  SELECT epoch_ns(ts) AS ts,
      |    'user ' || user_id || ' ' || event_type || ' k=' || regexp_extract(props, '[0-9]+') AS msg,
      |    'host=host' || (user_id % 4) || ',name=' || event_type AS tags,
      |    'user=' || user_id || ',k=' || regexp_extract(props, '[0-9]+') AS fields,
      |    event_id AS seq,
      |    user_id, event_type, ts AS ts_raw,
      |    regexp_extract(props, '[0-9]+') AS k
      |  FROM events
      |)""".stripMargin
}
