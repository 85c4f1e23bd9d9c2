package graft.connectors

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.VersionedStore

// Executor-side parquet readers shared by the `VersionedStore` DSv2
// surfaces (GraftVStoreSource for snapshots, VStoreMicroBatchStream
// for the change feed): one bucket chain's generation files become one
// `InputPartition`, read through the parquet-hadoop Group API directly
// on executors (atomic types + arrays of atomics — the store family's
// shapes; anything else fails loudly rather than decoding wrong), or
// answered from parquet FOOTERS when a group-by-free count/min/max was
// pushed.

/** Driver-side option and layout helpers of the DSv2 surfaces. */
private[connectors] object StoreMeta {
  def pathOf(p: String): String = {
    require(p != null && p.nonEmpty, "graft-vstore: a path is required")
    p
  }

  /** The store's key columns (written at creation); empty = unknown,
    * meaning no pruning (full scan) — never wrong answers. Read
    * through the store's own filesystem, so scheme-qualified stores
    * keep their pruning. */
  def keyCols(path: String): Seq[String] =
    VersionedStore.storedKeyCols(path).getOrElse(Seq.empty)
}

/** One pushed aggregate, in the Aggregation's declared order. The
  * reader answers these from parquet FOOTER metadata (row counts +
  * column-chunk statistics) — a store-wide `count/min/max` probe (the
  * ledger-size / HWM shape) then costs O(footers), zero decoded rows. */
private[connectors] sealed trait AggOp extends Serializable
private[connectors] case object CountStarOp extends AggOp
private[connectors] final case class CountColOp(col: String, dt: DataType) extends AggOp
private[connectors] final case class MinOp(col: String, dt: DataType) extends AggOp
private[connectors] final case class MaxOp(col: String, dt: DataType) extends AggOp

private[connectors] final case class BucketPartition(files: Seq[String])
    extends InputPartition

/** Observability seam for specs: decoded-row count across all store
  * readers in this JVM (meaningful under local[*] tests only — on a
  * real cluster each executor has its own). The agg-pushdown spec pins
  * "footers only" by asserting this does not move. */
private[graft] object StoreReaderMetrics {
  val rowsDecoded = new java.util.concurrent.atomic.AtomicLong
}

/** Executor-side PARTIAL aggregate over one bucket, answered from
  * parquet footers: Σ block row-counts for counts, folded column-chunk
  * statistics for min/max, `rows − numNulls` for count(col). Emits ONE
  * row in the pushed-aggregation schema; Spark's final aggregate merges
  * the per-bucket partials (sum of counts, min of mins, max of maxes).
  *
  * Statistics are trusted only where exact: the scan builder restricted
  * min/max to fixed-width atomics, and any chunk with absent/empty
  * stats (e.g. a float column containing NaN, whose stats parquet
  * drops) demotes the WHOLE bucket to a row-scan fallback computing
  * the same partials — slower, never wrong. */
private[connectors] final class BucketAggReader(files: Seq[String],
                                                schema: StructType,
                                                ops: Seq[AggOp])
    extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  // Spark's NULLS-last total order for min/max folding: NaN sorts
  // greatest, matching the row-scan semantics the fallback replays
  private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case BooleanType =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case IntegerType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType =>
      java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case other => sys.error(s"store reader: no stats ordering for $other")
  }

  private val needCount = ops.collect { case CountColOp(c, t) => c -> t }.distinct
  private val needMin = ops.collect { case MinOp(c, t) => c -> t }.distinct
  private val needMax = ops.collect { case MaxOp(c, t) => c -> t }.distinct

  private def fromFooters(): Option[Array[Any]] = {
    var rows = 0L
    val nonNull = scala.collection.mutable.Map.empty[String, Long]
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    var usable = true

    def fold(c: String, dt: DataType,
             into: scala.collection.mutable.Map[String, Any],
             s: org.apache.parquet.column.statistics.Statistics[_],
             keep: Int => Boolean): Unit =
      if (s.hasNonNullValue) {
        for (v <- Seq(s.genericGetMin, s.genericGetMax)) into.get(c) match {
          case Some(cur) if !keep(cmp(dt, v, cur)) => ()
          case _ => into(c) = v
        }
      }

    for (f <- files if usable) {
      val in = HadoopInputFile.fromPath(new Path(f), new Configuration())
      val r = ParquetFileReader.open(in)
      try {
        val it = r.getFooter.getBlocks.iterator()
        while (usable && it.hasNext) {
          val b = it.next()
          rows += b.getRowCount
          val byName = {
            val m = scala.collection.mutable.Map.empty[
              String, org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]
            b.getColumns.forEach(c => m(c.getPath.toDotString) = c)
            m
          }
          // absent path = not a flat atomic chunk (e.g. count over an
          // array column whose stats live under a nested path) → the
          // row-scan fallback answers it; true schema drift still fails
          // loudly there via the Group reader
          def statsOf(c: String) =
            byName.get(c).flatMap(chunk => Option(chunk.getStatistics))
          for ((c, _) <- needCount if usable) statsOf(c) match {
            case Some(s) if s.isNumNullsSet =>
              nonNull(c) = nonNull.getOrElse(c, 0L) +
                (b.getRowCount - s.getNumNulls)
            case _ => usable = false
          }
          // a chunk's min/max is usable iff it HAS extrema, or is
          // provably all-null (nothing to fold). A chunk with non-null
          // rows but no extrema — parquet drops float/double min/max
          // when NaN is present — must demote to the row scan, or the
          // pushed max would silently lose the NaN Spark's ordering
          // treats as greatest
          def extremaUsable(s: org.apache.parquet.column.statistics.Statistics[_],
                            rowCount: Long): Boolean =
            s.hasNonNullValue || (s.isNumNullsSet && s.getNumNulls == rowCount)
          for ((c, dt) <- needMin if usable) statsOf(c) match {
            case Some(s) if extremaUsable(s, b.getRowCount) =>
              fold(c, dt, mins, s, _ < 0)
            case _ => usable = false
          }
          for ((c, dt) <- needMax if usable) statsOf(c) match {
            case Some(s) if extremaUsable(s, b.getRowCount) =>
              fold(c, dt, maxs, s, _ > 0)
            case _ => usable = false
          }
        }
      } finally r.close()
    }
    if (!usable) None
    else Some(assemble(rows, nonNull, mins, maxs))
  }

  /** Row-scan fallback: same partials from decoded values (counted in
    * [[StoreReaderMetrics]] like any other scan). */
  private def fromRows(): Array[Any] = {
    val cols = (needCount ++ needMin ++ needMax).distinct
    val scanSchema = StructType(cols.map { case (c, t) => StructField(c, t) })
    val minCols = needMin.map(_._1).toSet
    val maxCols = needMax.map(_._1).toSet
    val cntCols = needCount.map(_._1).toSet
    var rows = 0L
    val nonNull = scala.collection.mutable.Map.empty[String, Long]
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    val rd = new BucketReader(files, scanSchema)
    try {
      while (rd.next()) {
        val r = rd.get()
        rows += 1
        cols.zipWithIndex.foreach { case ((c, dt), i) =>
          if (!r.isNullAt(i)) {
            val v = r.get(i, dt)
            if (cntCols(c)) nonNull(c) = nonNull.getOrElse(c, 0L) + 1
            if (minCols(c) && mins.get(c).forall(cur => cmp(dt, v, cur) < 0))
              mins(c) = v
            if (maxCols(c) && maxs.get(c).forall(cur => cmp(dt, v, cur) > 0))
              maxs(c) = v
          }
        }
      }
    } finally rd.close()
    assemble(rows, nonNull, mins, maxs)
  }

  private def assemble(rows: Long,
                       nonNull: scala.collection.Map[String, Long],
                       mins: scala.collection.Map[String, Any],
                       maxs: scala.collection.Map[String, Any]): Array[Any] =
    ops.map {
      case CountStarOp => java.lang.Long.valueOf(rows)
      case CountColOp(c, _) => java.lang.Long.valueOf(nonNull.getOrElse(c, 0L))
      case MinOp(c, _) => mins.getOrElse(c, null)
      case MaxOp(c, _) => maxs.getOrElse(c, null)
    }.toArray[Any]

  override def next(): Boolean = {
    if (done) return false
    val vals = fromFooters().getOrElse(fromRows())
    row = new GenericInternalRow(vals)
    done = true
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** [[GroupReadSupport]] with COLUMN PRUNING pushed into the decoder:
  * the requested projection keeps only the pruned schema's fields, cut
  * from the FILE's own MessageType (same types and repetition by
  * construction — a converted Spark schema would flip `required` to
  * `optional` and fail the record reader). A `select(key)` over a wide
  * store then skips the other columns' pages entirely instead of
  * decoding full rows and projecting after. Empty projection = keep
  * everything (defensive; the scan never asks for zero columns and
  * row-count-only reads go through the footer aggregate path). A
  * requested column the file lacks is skipped: the store's schema can
  * evolve additively, so a generation written before a column existed
  * legitimately lacks it and its rows read the column as null
  * (exactly the readChains behavior). */
private[connectors] final class ProjectingGroupReadSupport(names: Seq[String])
    extends GroupReadSupport {
  override def init(context: org.apache.parquet.hadoop.api.InitContext)
      : org.apache.parquet.hadoop.api.ReadSupport.ReadContext = {
    val fileSchema = context.getFileSchema
    if (names.isEmpty)
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(fileSchema)
    else {
      val kept = names.filter(fileSchema.containsField)
        .map(n => fileSchema.getFields.get(fileSchema.getFieldIndex(n)))
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(
        new org.apache.parquet.schema.MessageType(fileSchema.getName, kept: _*))
    }
  }
}

/** Executor-side reader: parquet-hadoop Group API over one bucket's
  * files, converted to the required schema. Supported shapes are the
  * store family's — atomic (bool/int/long/float/double/string) and
  * arrays of atomics; anything else fails loudly. */
private[connectors] final class BucketReader(files: Seq[String],
                                             schema: StructType,
                                             limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  private val iter = files.iterator
  private var reader: ParquetReader[Group] = _
  private var current: Group = _
  private var emitted = 0L

  override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false
    while (true) {
      if (reader == null) {
        if (!iter.hasNext) return false
        reader = ParquetReader
          .builder(new ProjectingGroupReadSupport(schema.fieldNames.toSeq),
            new Path(iter.next()))
          .withConf(new Configuration()).build()
      }
      current = reader.read()
      if (current != null) {
        emitted += 1
        StoreReaderMetrics.rowsDecoded.incrementAndGet()
        return true
      }
      reader.close(); reader = null
    }
    false // unreachable
  }

  override def get(): InternalRow =
    new GenericInternalRow(schema.fields.map(f => readField(current, f)))

  override def close(): Unit = if (reader != null) reader.close()

  private def readField(g: Group, f: StructField): Any = {
    if (!g.getType.containsField(f.name)) return null
    val idx = g.getType.getFieldIndex(f.name)
    if (g.getFieldRepetitionCount(idx) == 0) null
    else f.dataType match {
      case ArrayType(et, _) =>
        val lg = g.getGroup(idx, 0) // LIST wrapper
        val m = lg.getFieldRepetitionCount(0)
        new GenericArrayData((0 until m).map { i =>
          val el = lg.getGroup(0, i) // repeated "list" element group
          if (el.getFieldRepetitionCount(0) == 0) null
          else atomic(el, 0, et, f.name)
        }.toArray)
      case t => atomic(g, idx, t, f.name)
    }
  }

  private def atomic(g: Group, idx: Int, t: DataType, name: String): Any =
    t match {
      case BooleanType => g.getBoolean(idx, 0)
      case IntegerType => g.getInteger(idx, 0)
      case LongType => g.getLong(idx, 0)
      case FloatType => g.getFloat(idx, 0)
      case DoubleType => g.getDouble(idx, 0)
      case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case other => sys.error(
        s"store reader: unsupported type $other for column '$name' — " +
          "the DSv2 store reader covers the store family's shapes " +
          "(atomics + arrays of atomics)")
    }
}
