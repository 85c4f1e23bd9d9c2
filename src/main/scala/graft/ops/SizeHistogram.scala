package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1/A2 — size-histogram statistics (ListProducer/ListProducer.py:60-100,
  * 135-149; target stat names docs/Schema.txt:26-35).
  *
  * Reference semantics preserved exactly:
  *  - buckets are CUMULATIVE (an object ≤1e6 also counts in every larger
  *    bucket), thresholds are 1000-based bytes {1e6 … 5e9} even though the
  *    reference's field names say GB/TB — see SURVEY.md §7.4;
  *  - objects with size > max threshold are excluded from every bucket but
  *    still counted in totalObjects/totalSize (ListProducer.py:63-65).
  *
  * One pass, map-side partial aggregation, no shuffle beyond the final
  * single-row reduce — identical shape at 6k rows or 100 TB.
  */
object SizeHistogram {

  /** Reference thresholds in bytes (ListProducer.py:22). */
  val ReferenceThresholds: Seq[Long] =
    Seq(1000000L, 5000000L, 10000000L, 50000000L, 100000000L, 1000000000L, 5000000000L)

  /** Cumulative histogram of `size` with the given ascending thresholds.
    * Output: one row — total_objects, total_size, sub_<t> per threshold. */
  def apply(df: DataFrame, size: Column, thresholds: Seq[Long] = ReferenceThresholds): DataFrame = {
    val cols = columns(size, thresholds)
    df.agg(cols.head, cols.tail: _*)
  }

  /** The histogram's aggregates over the rows where `rows` holds:
    * total_objects, total_size, then the cumulative sub_<t> per
    * threshold. The one statement of the bucket rule: [[apply]],
    * [[byGroup]] and observations over a wider scan all use it. */
  def columns(size: Column, thresholds: Seq[Long] = ReferenceThresholds,
              rows: Column = lit(true)): Seq[Column] = {
    val buckets = thresholds.map { t =>
      sum(when(rows && size <= t, 1L).otherwise(0L)).as(s"sub_$t")
    }
    count(when(rows, 1L)).as("total_objects") +:
      sum(when(rows, size)).cast("bigint").as("total_size") +: buckets
  }

  /** One-pass struct result (SURVEY §2.10.2's idiomatic packaging). */
  case class Hist(total_objects: Long, total_size: Long, buckets: Seq[Long])

  /** Typed `Aggregator` form: the whole 9-counter histogram as a single
    * aggregation state. The buffer stores EXCLUSIVE per-band counts
    * (each object increments exactly one slot, O(log n) via the first
    * matching threshold) and `finish` prefix-sums them into the
    * reference's cumulative semantics — cheaper per row than the
    * `sum(when)` form when the threshold list is long, identical result.
    * Usable as `ds.select(SizeHistogram.aggregator(th).toColumn)` over a
    * `Dataset[Long]`. */
  def aggregator(thresholds: Seq[Long] = ReferenceThresholds)
      : org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Hist] =
    new org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Hist] {
      private val th = thresholds.toArray
      // layout: [count, size, exclusive band counts...]
      def zero: Array[Long] = new Array[Long](th.length + 2)
      def reduce(b: Array[Long], size: Long): Array[Long] = {
        b(0) += 1
        b(1) += size
        var i = 0
        while (i < th.length && size > th(i)) i += 1
        if (i < th.length) b(2 + i) += 1 // > max threshold ⇒ no bucket
        b
      }
      def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      def finish(b: Array[Long]): Hist = {
        val cum = new Array[Long](th.length)
        var acc = 0L
        var i = 0
        while (i < th.length) { acc += b(2 + i); cum(i) = acc; i += 1 }
        Hist(b(0), b(1), cum.toSeq)
      }
      def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
        org.apache.spark.sql.Encoders.kryo[Array[Long]]
      def outputEncoder: org.apache.spark.sql.Encoder[Hist] =
        org.apache.spark.sql.Encoders.product[Hist]
    }

  /** Per-group variant (A2 per-file stats then rolled up = one groupBy). */
  def byGroup(df: DataFrame, group: Column, size: Column,
              thresholds: Seq[Long] = ReferenceThresholds): DataFrame = {
    val cols = columns(size, thresholds)
    df.groupBy(group).agg(cols.head, cols.tail: _*)
  }
}
