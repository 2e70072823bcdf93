package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets

/** One live in-flight append as consumers see it: the epoch it holds
  * (None while the append is BETWEEN announcing itself and claiming its
  * epoch — consumers must then defer everything matching `parts`, since
  * the epoch it is about to claim may already be below entries visible
  * in the catalog), and the declared target partitions (None = unknown
  * targets: defer every partition). */
final case class InFlightEntry(epoch: Option[Long], parts: Option[Set[String]])

/** The registration-order lease behind [[Store.safeSeqWatermarkFor]],
  * made pluggable the same way [[EpochAllocator]] made epoch UNIQUENESS
  * pluggable (round-13 directive 2; reference analogue: the journal
  * controller's single writer, pkg/partition/partition.go:175-206).
  *
  * Contract (the watermark-safety argument, spelled out):
  *  1. [[preBegin]] runs BEFORE the append allocates its epoch and makes
  *     the append visible to every [[entries]] reader sharing the
  *     backing medium. Why before: epochs are claimed in strictly
  *     increasing order across writers, so an append whose lease only
  *     appeared AFTER its claim could be invisible to a consumer that
  *     already saw a HIGHER registered epoch — the exact skipped-row
  *     race the lease exists to close. An entry in the pre state
  *     carries no epoch, so consumers defer conservatively.
  *  2. [[begin]] upgrades the pre entry with the claimed epoch.
  *  3. [[end]] releases the lease when the append has registered its
  *     catalog entries (or failed clean).
  *  4. [[entries]] returns every live lease; implementations expire
  *     leases older than [[Store.EpochLeaseNanos]] (a hung append must
  *     not stall consumers forever — the documented trade: its rows may
  *     be skipped if it later completes).
  *
  * The default (no registry installed) is the per-JVM map inside
  * [[Store]] — correct whenever every append to a root flows through
  * one driver JVM. [[FileInFlightRegistry]] is the multi-driver shape:
  * leases are files on the store's shared filesystem, so driver B's
  * in-flight append to a partition driver A's pipes consume defers A's
  * cursors exactly like a local one. Install per root with
  * [[Store.useInFlightRegistry]] alongside the [[FileEpochAllocator]].
  * At the 100 TB design point both collapse into one metastore
  * transaction table; the access pattern (tiny per-append rows, listed
  * once per trigger) is identical. Measured swap boundary
  * (LeaseScaleProbe, round 14, local FS): entries() costs ~210–270 µs
  * per LIVE lease (one open+read+close each; 500 live → 133 ms, 2000 →
  * 416 ms, linear), so a 1 s per-trigger budget holds to ~4×10³
  * concurrent appenders (measured crossover 4,201 at round 15);
  * expired-file reaping is ~0.3 ms/file and paid once per crash, not
  * per trigger. On object stores the boundary is now MEASURED, not
  * extrapolated (round-15 directive 4: the probe's second phase injects
  * 10 ms per FS RPC — the standard object-store cost model): steady
  * entries() = 0.72 s at 64 live leases (11.2 ms/lease ≈ one GET each),
  * 1 s crossover = 88 leases — the metastore move comes correspondingly
  * earlier there. */
trait InFlightRegistry {
  /** Announce an append whose epoch is not yet claimed. Returns the
    * token [[begin]] needs to upgrade the entry. */
  def preBegin(parts: Option[Set[String]]): AnyRef

  /** Upgrade the [[preBegin]] entry with the claimed epoch. */
  def begin(epoch: Long, parts: Option[Set[String]], pre: AnyRef): Unit

  /** Release the lease (append registered, or failed clean). */
  def end(epoch: Long): Unit

  /** Release an announcement whose epoch claim failed ([[preBegin]]
    * without a matching [[begin]]) — otherwise the dead announcement
    * defers its targets until lease expiry. */
  def abort(pre: AnyRef): Unit

  /** Live leases, lease-expired entries already dropped. */
  def entries(): Seq[InFlightEntry]
}

/** Shared-filesystem lease registry for multi-driver stores.
  *
  * Layout under `dir` (one file per lease, content = target parts):
  *   pre-<uuid>   — announced, epoch not yet claimed ([[preBegin]])
  *   ifl-<epoch>  — claimed, append running ([[begin]])
  *
  * Files are written tmp→rename so a reader never sees a partial target
  * list (a truncated list would silently UN-defer the missing parts —
  * the one failure mode the content format cannot tolerate); any file
  * that fails to parse is treated as targets-unknown, which only ever
  * defers MORE. Content: first line `*` (unknown targets) or one
  * [[StateFile.esc]]'d part line per line (the escape covers newlines,
  * so part lines are line-safe).
  *
  * Expiry uses the file's modification time against
  * [[Store.EpochLeaseNanos]] — the shared filesystem's clock, so two
  * drivers age leases consistently; "now" is ALSO taken from the
  * filesystem (mtime of a freshly-touched probe file, see `fsNowMs`),
  * so reader-vs-filesystem skew cannot shorten a lease either. Expired
  * files are deleted by whichever reader sees them first
  * ([[Store.watermark]]'s in-map removal, externalized). A crash between [[preBegin]] and [[begin]]
  * leaves a pre file that defers its targets until expiry — the same
  * trade the in-JVM lease makes for hung appends. */
final class FileInFlightRegistry(fs: FileSystem, dir: Path)
    extends InFlightRegistry {

  import FileInFlightRegistry._

  if (!fs.exists(dir)) fs.mkdirs(dir)

  private def payload(parts: Option[Set[String]]): Array[Byte] = {
    val txt = parts match {
      case None => "*\n"
      case Some(ps) =>
        ps.toSeq.sorted.map(StateFile.esc).mkString("", "\n", "\n")
    }
    txt.getBytes(StandardCharsets.UTF_8)
  }

  private def writeAtomic(name: String, parts: Option[Set[String]]): Path = {
    val tmp = new Path(dir, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(payload(parts)) finally out.close()
    val dst = new Path(dir, name)
    Store.renameOrThrow(fs, tmp, dst)
    dst
  }

  override def preBegin(parts: Option[Set[String]]): AnyRef =
    writeAtomic(PrePrefix + java.util.UUID.randomUUID().toString, parts)

  override def begin(epoch: Long, parts: Option[Set[String]], pre: AnyRef): Unit = {
    writeAtomic(claimName(epoch), parts)
    pre match {
      case p: Path => try fs.delete(p, false) catch { case _: java.io.IOException => () }
      case _ => ()
    }
  }

  override def end(epoch: Long): Unit =
    try fs.delete(new Path(dir, claimName(epoch)), false)
    catch { case _: java.io.IOException => () }

  override def abort(pre: AnyRef): Unit = pre match {
    case p: Path =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    case _ => ()
  }

  /** "now" on the FILESYSTEM's clock: the mtime of a freshly-rewritten
    * probe file. Lease aging must compare fs-mtime against fs-mtime —
    * with `System.currentTimeMillis()` a fast-clocked READER shortens
    * every lease and can reap another driver's live lease, letting
    * consumers advance past its in-flight rows (reader-vs-fs skew is the
    * one axis the "two drivers age leases consistently" argument did not
    * cover). One tiny create+stat per entries() call — the same
    * per-trigger cost class as the listing itself. The probe name is
    * PER-READER (uuid suffix): a single shared name would make every
    * concurrent reader create(overwrite=true) the same path, and on
    * HDFS-like filesystems the second create steals the file lease and
    * the first close throws — silently degrading to the JVM clock
    * exactly under the multi-driver contention this clock exists for.
    * The `.tmp` suffix keeps the probe out of the live-lease set and
    * lets the existing expiry sweep reap it once its owner stops
    * refreshing it. A transient IOException is retried once before
    * falling back to the JVM clock, which only ever errs by the actual
    * skew. */
  private val probePath =
    new Path(dir, "clock-probe-" + java.util.UUID.randomUUID().toString + ".tmp")
  private def probeOnce(): Long = {
    val out = fs.create(probePath, true)
    try out.write('t') finally out.close()
    fs.getFileStatus(probePath).getModificationTime
  }
  private def fsNowMs(): Long =
    try probeOnce()
    catch {
      case _: java.io.IOException =>
        try probeOnce()
        catch { case _: java.io.IOException => System.currentTimeMillis() }
    }

  override def entries(): Seq[InFlightEntry] = {
    val nowMs = fsNowMs()
    val sts =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => return Nil }
    val cutoffMs = nowMs - Store.EpochLeaseNanos / 1000000L
    val out = Seq.newBuilder[InFlightEntry]
    sts.foreach { st =>
      val name = st.getPath.getName
      // a crashed writeAtomic leaves `<name>.tmp` — never a live lease
      // (rename is the publish step); the expiry sweep still reaps it
      val isTmp = name.endsWith(".tmp")
      val epoch: Option[Option[Long]] = // None = not a lease file
        if (isTmp) None
        else if (name.startsWith(ClaimPrefix))
          scala.util.Try(name.substring(ClaimPrefix.length).toLong)
            .toOption.map(Some(_))
        else if (name.startsWith(PrePrefix)) Some(None)
        else None
      if (st.getModificationTime < cutoffMs) {
        // abandoned (crashed writer) lease or torn tmp: expire like the
        // in-JVM lease
        if (isTmp || epoch.isDefined)
          try fs.delete(st.getPath, false)
          catch { case _: java.io.IOException => () }
      } else epoch.foreach(ep => out += InFlightEntry(ep, readParts(st.getPath)))
    }
    out.result()
  }

  /** Target parts from a lease file; any read/parse trouble means
    * targets-unknown (defer all) — never fewer deferred parts. */
  private def readParts(p: Path): Option[Set[String]] =
    try {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = txt.linesIterator.filter(_.nonEmpty).toVector
      if (lines.isEmpty || lines.head == "*") None
      else Some(lines.map(l => StateFile.unesc(l, 0, l.length)).toSet)
    } catch { case scala.util.control.NonFatal(_) => None }
}

object FileInFlightRegistry {
  private[store] val PrePrefix = "pre-"
  private[store] val ClaimPrefix = "ifl-"
  private[store] def claimName(epoch: Long): String = f"$ClaimPrefix$epoch%019d"

  /** The conventional lease directory for a store root (sibling of the
    * epoch dir a [[FileEpochAllocator]] would use). */
  def dirFor(root: String): String = s"$root/.inflight"
}
