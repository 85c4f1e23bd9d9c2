package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J4 — source/destination object verification (Module IV,
  * docs/Tasks.md:38-44; AzureEtagCheck/etag_app.py:62-146).
  *
  * The reference fetches source and destination properties per object
  * and compares (mtime, size), then the recomputed multipart ETag
  * against the stored one, emitting a per-object verdict plus
  * success/error result files. Here both property sets are tables (at
  * scale: inventory snapshots of the two stores), so verification is a
  * single key-partitioned join with comparison predicates — no per-row
  * network round-trips; the ETag recompute (F7, [[graft.functions
  * .MultipartEtag]]) runs where the bytes already are.
  *
  * Verdict order mirrors the reference's check sequence: missing
  * destination first (etag_app.py:92-96), then size, then mtime, then
  * etag, else ok.
  *
  * [[apply]] is a lazy plan: each of its callers runs one action over
  * it, so materializing it would only add a job. [[doubleCheck]] is
  * eager: like the reference, which reads the properties once and
  * reports that one verdict set as counters and as result files, it
  * reads the three inventories once, when it is called, and every
  * action on its frame ([[summary]], [[resultRows]] through
  * [[graft.sinks.Sinks.writePartitionedCsv]], a count) reads those
  * rows. Its verdicts are therefore a point-in-time snapshot: an
  * inventory that changes after the call changes neither the counters
  * nor the result files, so the two always agree. The rows are a
  * `localCheckpoint` (executor memory and disk, lineage truncated: a
  * lost executor fails the later action instead of re-reading the
  * inventories); Spark's `ContextCleaner` releases them once the
  * returned frame is unreachable.
  */
object Verification {

  /** @param src key + size/mtime/etag columns (source store)
    * @param dst same schema (destination store)
    * @return one row per source object with `verdict` in
    *         {missing_dest, size_mismatch, mtime_mismatch,
    *          etag_mismatch, ok} */
  def apply(src: DataFrame, dst: DataFrame, keyCol: String,
            sizeCol: String = "size", mtimeCol: String = "mtime",
            etagCol: String = "etag"): DataFrame = {
    val s = src.select(
      col(keyCol).as("key"), col(sizeCol).as("src_size"),
      col(mtimeCol).as("src_mtime"), col(etagCol).as("src_etag"))
    val d = dst.select(
      col(keyCol).as("key"), lit(true).as("dst_present"),
      col(sizeCol).as("dst_size"), col(mtimeCol).as("dst_mtime"),
      col(etagCol).as("dst_etag"))
    s.join(d, Seq("key"), "left")
      .withColumn("verdict",
        when(col("dst_present").isNull, lit("missing_dest"))
          .when(!(col("src_size") <=> col("dst_size")), lit("size_mismatch"))
          .when(!(col("src_mtime") <=> col("dst_mtime")), lit("mtime_mismatch"))
          .when(!(col("src_etag") <=> col("dst_etag")), lit("etag_mismatch"))
          .otherwise(lit("ok")))
      .drop("dst_present")
  }

  /** Double-read consistency: the reference re-reads the source
    * properties and compares AGAIN before declaring a mismatch
    * (AzureEtagCheck/etag_app.py:125-146 — an object may legitimately
    * change between the first read and the check). Here both reads are
    * property snapshots: verdicts that agree pass through; verdicts
    * that differ flag `flapping` (the retry class — re-verify next
    * cycle instead of alarming). One extra key-partitioned join.
    * Eager: returns the materialized verdict rows (the point-in-time
    * contract above). */
  def doubleCheck(src: DataFrame, dstFirst: DataFrame, dstSecond: DataFrame,
                  keyCol: String): DataFrame = {
    val v1 = apply(src, dstFirst, keyCol)
    val v2 = apply(src, dstSecond, keyCol)
      .select(col("key"), col("verdict").as("verdict_recheck"))
    v1.join(v2, Seq("key"))
      .withColumn("final_verdict",
        when(col("verdict") === col("verdict_recheck"), col("verdict"))
          .otherwise(lit("flapping")))
      .localCheckpoint()
  }

  /** A11 — result-class rollup (etag_app.py:219-222 success/error
    * counters, asserted to cover every input row). */
  def summary(verified: DataFrame): DataFrame =
    verified.groupBy(col("verdict")).agg(count(lit(1)).as("n"))

  /** A8-shaped result rows (AzureEtagCheck output contract,
    * conf.py:11 + etag_app.py:194-206): the input row plus ProcessTime,
    * TimeCost and Message, with a success/errors result class — written
    * with [[graft.sinks.Sinks.writePartitionedCsv]] to mirror the
    * reference's split result files (K6).
    * @param processTime injected clock column (deterministic in tests;
    *        current_timestamp() in production) */
  def resultRows(verified: DataFrame, processTime: Column,
                 timeCostMs: Column): DataFrame =
    verified
      .withColumn("ProcessTime", processTime)
      .withColumn("TimeCost", timeCostMs)
      .withColumn("Message",
        when(col("verdict") === "ok", lit("success"))
          .otherwise(concat(lit("mismatch:"), col("verdict"))))
      .withColumn("result",
        when(col("verdict") === "ok", lit("success")).otherwise(lit("errors")))
}
