package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark's `FileIndex` over catalog entries — the one place that decides
  * which chunk files a read of the store opens. Spark's built-in parquet
  * scan sits on top ([[Store.relation]]), so column pruning, row-group
  * statistics and the vectorized reader are Spark's own; this index only
  * prunes files, in the two levels the reference does with tindex +
  * tmindex:
  *
  *  - `part` is the partition column, its values the catalog's tag lines
  *    (never parsed from a path). Partition filters (`part = x`,
  *    `part IN (...)`, any predicate over `part`) are evaluated per
  *    candidate part, and only the parts that pass have their entries
  *    loaded (`load`, e.g. [[Catalog.entriesForPart]]: one hash shard);
  *  - `ts` bounds among the data filters drop every chunk whose catalog
  *    `[minTs, maxTs]` misses them ([[CatEntry.overlaps]]).
  *
  * Each `FileStatus` is built from the entry's `file` and `sizeBytes`, so
  * planning makes no filesystem call and fires no listing job at any file
  * count. Rows are never filtered here: Spark re-applies every predicate,
  * so pruning only skips files that hold no qualifying row. This is also
  * where LIMIT pushdown from catalog stats belongs.
  *
  * `cursors` (the streaming source's micro-batches) adds each part's
  * `(lo, hi]` seq cursor pair as two more partition-value constants,
  * [[StoreFileIndex.LoCol]] and [[StoreFileIndex.HiCol]], which the batch
  * filters rows on and then drops.
  *
  * @param parts       candidate partitions (tag lines)
  * @param load        a candidate part's catalog entries
  * @param sizeInBytes size estimate for Spark's planner statistics
  */
final class StoreFileIndex(root: String, parts: Seq[String],
    load: String => Seq[CatEntry], override val sizeInBytes: Long,
    cursors: Option[Map[String, (Long, Long)]] = None) extends FileIndex {

  import StoreFileIndex._

  override def rootPaths: Seq[Path] = Seq(new Path(root, "data"))

  override val partitionSchema: StructType =
    if (cursors.isEmpty) PartSchema else PartSchema.add(LoCol, LongType).add(HiCol, LongType)

  private def values(p: String): InternalRow = cursors match {
    case None => InternalRow(UTF8String.fromString(p))
    case Some(c) =>
      val (lo, hi) = c(p)
      InternalRow(UTF8String.fromString(p), lo, hi)
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = partitionFilters.reduceOption(And).fold((_: InternalRow) => true) { f =>
      Predicate.createInterpreted(f.transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }).eval
    }
    val (lo, hi) = tsBounds(dataFilters.flatMap(GraftColumn.translateFilter))
    parts.flatMap { p =>
      val v = values(p)
      if (!keep(v)) None
      else {
        val files = load(p).filter(_.overlaps(lo, hi)).map(status(_))
        if (files.isEmpty) None else Some(PartitionDirectory(v, files.toArray))
      }
    }
  }

  override def inputFiles: Array[String] = parts.flatMap(load).map(_.file).toArray

  override def refresh(): Unit = ()
}

object StoreFileIndex {
  val LoCol = "__lo_seq"
  val HiCol = "__hi_seq"

  private val PartSchema = StructType(Seq(StructField("part", StringType)))

  /** An index over a resolved entry list. */
  def of(root: String, entries: Seq[CatEntry],
      cursors: Option[Map[String, (Long, Long)]] = None): StoreFileIndex = {
    val byPart = entries.groupBy(_.part)
    new StoreFileIndex(root, byPart.keys.toSeq.sorted, byPart.getOrElse(_, Nil),
      entries.map(_.sizeBytes).sum, cursors)
  }

  /** The inclusive `[lo, hi]` the `ts` filters among `filters` allow. */
  private def tsBounds(filters: Seq[sources.Filter]): (Long, Long) = {
    import org.apache.spark.sql.sources._
    var lo = Long.MinValue
    var hi = Long.MaxValue
    filters.foreach {
      case GreaterThan("ts", v: Long) => if (v < Long.MaxValue) lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("ts", v: Long) => lo = math.max(lo, v)
      case LessThan("ts", v: Long) => if (v > Long.MinValue) hi = math.min(hi, v - 1)
      case LessThanOrEqual("ts", v: Long) => hi = math.min(hi, v)
      case EqualTo("ts", v: Long) => lo = math.max(lo, v); hi = math.min(hi, v)
      case _ => ()
    }
    (lo, hi)
  }

  private def status(e: CatEntry): FileStatus =
    new FileStatus(e.sizeBytes, false, 1, 0L, e.writeTs / 1000000L, new Path(e.file))
}
