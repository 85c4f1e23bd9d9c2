package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming log₂-bucket histogram: the [[graft.ops.Distribution]]
  * bucket table as `flatMapGroupsWithState` state — the third member
  * of the streaming-summary family ([[StreamDistinct]] = cardinality,
  * [[FreqStream]] = frequency, this = distribution).
  *
  * State per key is ≤65 (bucket → count) cells regardless of stream
  * length. Because the fold is pure counting into fixed buckets —
  * associative, commutative — the final streamed histogram equals the
  * one-shot batch histogram EXACTLY for every micro-batch split,
  * arrival order and replay (the strongest invariance class, same as
  * the HLL register max-merge; HistStreamSpec pins stream == batch,
  * q151 pins it against the SQL oracle). Downstream, the emitted
  * buckets serve quantiles through
  * [[graft.ops.Distribution.quantilesFromHistogram]] — a live
  * length-distribution gate over an unbounded stream.
  */
object HistStream {

  case class KeyBucket(k: String, bucket: Long, n: Long)

  /** The JVM mirror of [[graft.ops.Distribution.log2Bucket]]. */
  def log2BucketLong(v: Long): Long =
    if (v <= 0) -1L else (63 - java.lang.Long.numberOfLeadingZeros(v)).toLong

  /** Per-key running histogram over a (key, value) stream: after each
    * micro-batch, every key updated in that batch re-emits its whole
    * (≤65-row) bucket table. Run with output mode Update; the latest
    * emission set per key is the stream's histogram so far. Null
    * values don't bucket (batch parity: logHistogram filters them). */
  def histogram(ds: Dataset[(String, Option[Long])]): Dataset[KeyBucket] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[Map[Long, Long], KeyBucket](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(func = {
        (key: String, rows: Iterator[(String, Option[Long])],
         state: GroupState[Map[Long, Long]]) =>
          val hadState = state.exists
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          var folded = false
          rows.foreach { case (_, v) =>
            v.foreach { x =>
              folded = true
              val b = log2BucketLong(x)
              m = m.updated(b, m.getOrElse(b, 0L) + 1L)
            }
          }
          if (!hadState && !folded) Iterator.empty
          else {
            state.update(m)
            m.toSeq.sortBy(_._1).iterator
              .map { case (b, n) => KeyBucket(key, b, n) }
          }
      })(org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Map[Long, Long]](),
        Encoders.product[KeyBucket])

  /** [[histogram]] maintained as an MVCC LEDGER: a checkpointed
    * consumer of `(k STRING, v BIGINT)` landing files whose every
    * micro-batch lands its re-emitted bucket rows as ONE tagged
    * [[graft.sinks.VersionedStore]] epoch, keyed (k, bucket) — a
    * touched key re-emits its WHOLE ≤65-row bucket table, so the
    * upsert always covers every live bucket of that key and the store
    * snapshot IS the histogram. [[EpochStream]]'s exactly-once fence
    * makes crash-replayed batches no-ops (HistStreamSpec pins
    * kill/resume parity); the ledger gains time travel (the
    * distribution as of any batch), CDC and vacuum from the store.
    * Read with `VersionedStore.read` / `readAsOf`. */
  def histogramToStore(spark: SparkSession, landingDir: String,
                       storeRoot: String, nBuckets: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    histogram(StreamSessions.microBatch(spark).readStream.schema("k STRING, v BIGINT")
        .parquet(landingDir).as[(String, Option[Long])])
      .toDF()
      .writeStream
      .option("checkpointLocation", s"$storeRoot/ckpt_hist")
      .outputMode("update")
      .foreachBatch { (df: DataFrame, bid: Long) =>
        EpochStream(Seq("k", "bucket"), nBuckets).processBatch(df, bid,
          storeRoot)
      }
      .start()
  }

  /** Phased-replay harness ([[StreamSessions.replayLatest]]): drive
    * [[histogram]] over `phases` (each a (k STRING, v BIGINT) frame
    * landed as one micro-batch group under `root`) and return the
    * LATEST emission set per key. */
  def replayHistogram(spark: SparkSession, phases: Seq[DataFrame],
                      root: String): DataFrame = {
    import spark.implicits._
    StreamSessions.replayLatest(spark, phases, root, "k STRING, v BIGINT") {
      in => histogram(in.as[(String, Option[Long])]).toDF()
    }("k", "bucket", "n")
  }
}
