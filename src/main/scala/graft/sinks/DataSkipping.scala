package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** Generation-level COLUMN STATISTICS for the versioned store — the
  * Delta/Iceberg data-skipping manifest, sized to this layout: one
  * `_cstats` marker per generation directory holding, for every
  * top-level comparable column, its (nullCount, min, max) aggregated
  * across the generation's parquet footers. Written at promote time
  * (driver-side footer reads of files just written — metadata only,
  * no executor, no data page) and read at PLAN time by
  * [[VersionedStore.readPruned]], so a value predicate can drop whole
  * bucket chains without opening a single file.
  *
  * Why this matters on a hash-bucketed layout: keys scatter, so most
  * natural columns span every bucket — but columns CORRELATED WITH
  * WRITE TIME do not. A ledger's `last_epoch`-style column is bounded
  * by the epoch that wrote each generation, so "rows updated since E"
  * prunes every bucket untouched since E from stats alone — the
  * freshness scan a 10k-bucket store at 100 TB cannot afford to serve
  * by opening 10k footers. Row-group statistics and key blooms keep
  * serving the within-file pruning below this layer.
  *
  * Conservatism contract (what makes pruning SAFE): a generation
  * without a `_cstats` marker (legacy store), a column without a
  * stats line (unsupported type, corrupt footer), or a chain where
  * ANY generation overlaps the predicate range is always READ — the
  * manifest can only skip work, never change a result. Tombstones
  * carry null values, and nulls never extend min/max, so a delta
  * generation's stats stay exact for the values it introduces.
  *
  * String ordering note: parquet binary stats order by UNSIGNED UTF-8
  * bytes, so the overlap test compares the same way (Java's
  * String.compareTo orders by UTF-16 code unit and diverges above the
  * BMP — comparing with it could mis-prune, i.e. lose rows). */
object DataSkipping {

  /** One column's per-generation statistics; min/max are the canonical
    * string rendering of the column's type (see [[render]]). */
  final case class ColStats(nulls: Long, min: String, max: String)

  private val MarkerName = "_cstats"

  /** Columns of these types get stats; everything else is skipped
    * (and therefore never pruned on — conservative). */
  def supportedType(dt: DataType): Boolean = supported(dt)

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case DoubleType | FloatType => true
    case StringType | BooleanType => true
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  // URL-encode so the marker stays line-oriented whatever bytes a
  // string column holds
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Is a harvested Float/Double bound NaN? NaN bounds must never
    * reach a `_cstats` line — [[lt]]'s primitive comparison returns
    * false against NaN both ways, which flips "always read" into
    * "always prune" for range predicates. */
  private def nanBound(dt: DataType, v: Any): Boolean = (dt, v) match {
    case (DoubleType, d: java.lang.Double) => d.isNaN
    case (FloatType, f: java.lang.Float) => f.isNaN
    case _ => false
  }

  /** Canonical string rendering of a parquet statistics value for a
    * Spark column type; None = value shape unexpected (skip column).
    * NaN FP bounds render as None — parquet-mr omits FP statistics
    * when NaN is present, but a defensive reader should not trust
    * that; an unrenderable bound demotes the column to a conservative
    * (never-pruned) read. */
  private def render(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (LongType | TimestampType | TimestampNTZType, l: java.lang.Long) =>
      Some(l.toString)
    case (IntegerType | ShortType | ByteType | DateType,
          i: java.lang.Integer) => Some(i.toString)
    case (DoubleType, d: java.lang.Double) =>
      if (d.isNaN) None else Some(d.toString)
    case (FloatType, f: java.lang.Float) =>
      if (f.isNaN) None else Some(f.toString)
    case (BooleanType, b: java.lang.Boolean) => Some(b.toString)
    case (StringType, b: org.apache.parquet.io.api.Binary) =>
      Some(b.toStringUsingUTF8)
    case _ => None
  }

  /** Read the footers of every parquet file in `genDir` (driver-side,
    * files just written by this process) and write the `_cstats`
    * marker. Any irregularity — unreadable footer, unexpected stats
    * shape — drops the affected COLUMN, never fails the write: stats
    * are an optimization, the commit must not die for them. */
  def collectAndWrite(fs: FileSystem, genDir: Path,
                      schema: StructType): Unit =
    collectBody(fs, genDir, schema).foreach(writeBody(fs, genDir, _))

  /** The footer-read half alone — callers that fan collection out
    * (or observe stats off the write job) and write the marker later
    * split the phases. Every call site targets a directory that is
    * NOT YET VISIBLE (an uncommitted generation), so a plain
    * overwrite create suffices — the atomic-replace rename
    * would buy nothing and costs an order of magnitude more in FS
    * metadata ops, paid per bucket per upsert (round-14 profile). */
  def writeBody(fs: FileSystem, genDir: Path, body: String): Unit = {
    val out = fs.create(new Path(genDir, MarkerName), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Expression budget for [[observeStats]]: past this many aggregate
    * expressions the per-row conditional evaluation would tax the
    * write job more than a pooled footer pass costs. The observation
    * exists for the high-frequency SMALL commit (a streaming
    * maintainer's micro-batch touching a handful of buckets), where
    * the round-13 per-epoch footer round-trips were the measured
    * regression; a wide multi-bucket write amortizes footer reads
    * fine and falls back to them. */
  private val MaxObservePairs = 128

  /** Per-bucket column statistics riding a staged write via
    * `Dataset.observe`: the write job itself evaluates the
    * min/max/null aggregates, so generation statistics cost ZERO extra
    * jobs and ZERO footer re-reads. [[harvest]] after the write action
    * returns the `_cstats` body per touched bucket; None = the metrics
    * never arrived (caller falls back to footer reads, or stays
    * statless — stats are best-effort by contract either way). */
  final class StagedStats private[DataSkipping] (
      obs: org.apache.spark.sql.Observation,
      pairs: Seq[((Int, StructField), Int)]) {
    private def metricsRow: Option[org.apache.spark.sql.Row] =
      try Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s")))
      catch { case scala.util.control.NonFatal(_) => None }

    def harvest(): Option[Map[Int, String]] = {
      val row = metricsRow.getOrElse(return None)
      try {
        val perBucket = pairs.groupBy(_._1._1).map { case (b, ps) =>
          val lines = ps.flatMap { case ((_, f), i) =>
            val mn = Option(row.getAs[Any](s"n$i"))
            val mx = Option(row.getAs[Any](s"x$i"))
            val nulls = Option(row.getAs[Any](s"u$i"))
              .map(_.asInstanceOf[Long]).getOrElse(0L)
            (mn, mx) match {
              // NaN bound ⇒ drop the column line (parquet-mr's posture:
              // FP stats are omitted when NaN is present). Spark's
              // aggregates order NaN GREATEST, but [[lt]] replays
              // primitive comparison where every NaN compare is false —
              // a max of "NaN" would make survives(GreaterThan v) =
              // lt(v, NaN) = false and silently prune a generation that
              // HOLDS matching rows (round-14 ADVICE, high). Absent
              // line = conservative read, never a wrong one.
              case (Some(lo), Some(hi))
                  if !nanBound(f.dataType, lo) && !nanBound(f.dataType, hi) =>
                Some((f.name, s"${enc(f.name)};$nulls;" +
                  s"${enc(renderBound(f.dataType, lo))};" +
                  s"${enc(renderBound(f.dataType, hi))}"))
              case _ => None // all-null within the bucket: conservative
            }
          }.sortBy(_._1).map(_._2)
          b -> lines.mkString("\n")
        }
        Some(perBucket.filter(_._2.nonEmpty))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Attach per-bucket stats collection to a staged write's input
    * frame (`_bucket` column required). Returns the observed frame the
    * caller MUST write (the observation rides that action) plus the
    * harvest handle; None = nothing to observe or fan-out over budget
    * (caller uses footer reads instead). The metric values are
    * evaluated under Spark's own comparison semantics (strings by
    * unsigned UTF-8 bytes via UTF8String, NaN greatest), which is
    * exactly the ordering [[lt]]/[[overlaps]] replay — and row-level
    * filters are always applied on top, so stats remain advisory. */
  def observeStats(df: org.apache.spark.sql.DataFrame, touched: Seq[Int],
                   schema: StructType)
      : Option[(org.apache.spark.sql.DataFrame, StagedStats)] = {
    import org.apache.spark.sql.functions._
    val fields = schema.fields.filter(f => supported(f.dataType)).toSeq
    val pairs = for (b <- touched; f <- fields) yield (b, f)
    if (pairs.isEmpty || pairs.size > MaxObservePairs) return None
    val obs = org.apache.spark.sql.Observation(
      "cstats-" + java.util.UUID.randomUUID())
    val indexed = pairs.zipWithIndex
    val exprs = indexed.flatMap { case ((b, f), i) =>
      val in = when(col("_bucket") === b, col(f.name))
      Seq(min(in).as(s"n$i"), max(in).as(s"x$i"),
        coalesce(sum(when(col("_bucket") === b && col(f.name).isNull, 1L)),
          lit(0L)).as(s"u$i"))
    }
    scala.util.Try(df.observe(obs, exprs.head, exprs.tail: _*)).toOption
      .map(observed => (observed, new StagedStats(obs, indexed)))
  }

  def collectBody(fs: FileSystem, genDir: Path,
                  schema: StructType): Option[String] = {
    val cols = schema.fields.filter(f => supported(f.dataType))
      .map(f => f.name -> f.dataType).toMap
    if (cols.isEmpty) return None
    val files = fs.listStatus(genDir).map(_.getPath)
      .filter(Sinks.isPartFile)
    if (files.isEmpty) return None
    // name -> (nulls, min, max) folded across files and row groups;
    // a column dropped anywhere is dropped everywhere
    val acc = scala.collection.mutable.Map.empty[String, ColStats]
    val dead = scala.collection.mutable.Set.empty[String]
    try {
      files.foreach { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, fs.getConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          r.getFooter.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala.foreach { cc =>
              val name = cc.getPath.toDotString
              cols.get(name).foreach { dt =>
                if (!dead(name)) {
                  val st = cc.getStatistics
                  if (st == null || st.isEmpty) dead += name
                  else {
                    val nulls = st.getNumNulls
                    if (!st.hasNonNullValue) {
                      // all-null chunk: fold nulls, keep min/max as-is
                      acc.get(name) match {
                        case Some(c) => acc(name) = c.copy(nulls = c.nulls + nulls)
                        case None => acc(name) = ColStats(nulls, null, null)
                      }
                    } else {
                      (render(dt, st.genericGetMin()),
                        render(dt, st.genericGetMax())) match {
                        case (Some(mn), Some(mx)) =>
                          acc.get(name) match {
                            case Some(c) =>
                              val nmn =
                                if (c.min == null || lt(dt, mn, c.min)) mn
                                else c.min
                              val nmx =
                                if (c.max == null || lt(dt, c.max, mx)) mx
                                else c.max
                              acc(name) =
                                ColStats(c.nulls + nulls, nmn, nmx)
                            case None => acc(name) = ColStats(nulls, mn, mx)
                          }
                        case _ => dead += name
                      }
                    }
                  }
                }
              }
            }
          }
        } finally r.close()
      }
    } catch { case scala.util.control.NonFatal(_) => return None }
    val lines = acc.toSeq
      .filter { case (n, c) => !dead(n) && c.min != null && c.max != null }
      .sortBy(_._1)
      .map { case (n, c) => s"${enc(n)};${c.nulls};${enc(c.min)};${enc(c.max)}" }
    if (lines.isEmpty) None else Some(lines.mkString("\n"))
  }

  /** The generation's stats, if the marker exists (None = legacy or
    * statless generation: caller must include it conservatively). A
    * truncated or corrupt marker — a malformed line, a non-numeric
    * null count — also reads as None: stats are best-effort by
    * contract ("can only skip work, never change a result"), so a bad
    * manifest must demote the generation to a conservative read, never
    * fail the scan that consulted it. */
  def read(fs: FileSystem, genDir: Path): Option[Map[String, ColStats]] =
    Sinks.readMarker(fs, new Path(genDir, MarkerName)).flatMap { body =>
      scala.util.Try {
        body.linesIterator.filter(_.nonEmpty).map { line =>
          val Array(n, nulls, mn, mx) = line.split(";", 4)
          dec(n) -> ColStats(nulls.toLong, dec(mn), dec(mx))
        }.toMap
      }.toOption
    }

  /** Typed less-than on the canonical renderings. Strings compare by
    * UNSIGNED UTF-8 bytes (parquet's binary order). */
  private def lt(dt: DataType, a: String, b: String): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      a.toLong < b.toLong
    case IntegerType | ShortType | ByteType | DateType => a.toInt < b.toInt
    case DoubleType => a.toDouble < b.toDouble
    case FloatType => a.toFloat < b.toFloat
    case BooleanType => !a.toBoolean && b.toBoolean
    case StringType =>
      val x = a.getBytes(StandardCharsets.UTF_8)
      val y = b.getBytes(StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    case other => sys.error(s"unsupported pruning type: ${other.sql}")
  }

  /** A stats entry whose FP bound is the NaN rendering (a marker
    * written before the harvest-side NaN guard existed): [[lt]] cannot
    * order it, so the entry must read as "always overlaps" rather than
    * feed the comparison. Read-side belt to the write-side braces. */
  private def nanStats(dt: DataType, cs: ColStats): Boolean = dt match {
    case DoubleType | FloatType => cs.min == "NaN" || cs.max == "NaN"
    case _ => false
  }

  /** Does [lo, hi] (inclusive, canonical renderings) overlap the
    * column's [min, max]? */
  def overlaps(dt: DataType, cs: ColStats, lo: String, hi: String): Boolean =
    nanStats(dt, cs) || (!lt(dt, hi, cs.min) && !lt(dt, cs.max, lo))

  /** The single column a pushed V1 filter constrains, when the filter
    * shape is one the stats can evaluate. */
  def filterColumn(f: org.apache.spark.sql.sources.Filter): Option[String] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) if v != null => Some(a)
      case GreaterThan(a, v) if v != null => Some(a)
      case GreaterThanOrEqual(a, v) if v != null => Some(a)
      case LessThan(a, v) if v != null => Some(a)
      case LessThanOrEqual(a, v) if v != null => Some(a)
      case In(a, vs) if vs != null && vs.nonEmpty && vs.forall(_ != null) =>
        Some(a)
      case _ => None
    }
  }

  /** Can a row satisfying `f` exist given the column's stats? True on
    * any doubt (including a bound that fails to render) — pruning is
    * an optimization, never a correctness dependency. */
  def survives(dt: DataType, cs: ColStats,
               f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    if (nanStats(dt, cs)) return true
    try f match {
      case EqualTo(_, v) =>
        val b = renderBound(dt, v); overlaps(dt, cs, b, b)
      case GreaterThan(_, v) => lt(dt, renderBound(dt, v), cs.max)
      case GreaterThanOrEqual(_, v) => !lt(dt, cs.max, renderBound(dt, v))
      case LessThan(_, v) => lt(dt, cs.min, renderBound(dt, v))
      case LessThanOrEqual(_, v) => !lt(dt, renderBound(dt, v), cs.min)
      case In(_, vs) =>
        vs.exists { v => val b = renderBound(dt, v); overlaps(dt, cs, b, b) }
      case _ => true
    } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** Canonical rendering of a caller-supplied bound, type-checked
    * against the column. Temporal bounds require PROPER temporal
    * types: a raw Int/Long would render as days/micros here while the
    * row-level filter's literal would cast it under DIFFERENT
    * semantics (Spark casts long→timestamp as SECONDS) — the stats
    * and the filter must never disagree. */
  def renderBound(dt: DataType, v: Any): String = (dt, v) match {
    case (LongType, x: Long) => x.toString
    case (LongType, x: Int) => x.toString
    case (IntegerType | ShortType | ByteType, x: Int) => x.toString
    case (ShortType | ByteType, x: Short) => x.toString
    case (ByteType, x: Byte) => x.toString
    case (DoubleType, x: Double) => x.toString
    case (FloatType, x: Float) => x.toString
    case (StringType, x: String) => x
    case (BooleanType, x: Boolean) => x.toString
    case (DateType, x: java.sql.Date) => x.toLocalDate.toEpochDay.toString
    case (DateType, x: java.time.LocalDate) => x.toEpochDay.toString
    case (TimestampType, x: java.sql.Timestamp) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(x).toString
    case (TimestampType, x: java.time.Instant) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(x).toString
    case (TimestampNTZType, x: java.time.LocalDateTime) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(x).toString
    case (dt0, x) => sys.error(s"bound ${x} (${x.getClass.getSimpleName}) " +
      s"does not match column type ${dt0.sql}")
  }
}
