package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.FreqItems

/** Streaming frequent-items: the Misra-Gries counter table as
  * `flatMapGroupsWithState` state, folded per event — the streaming
  * face of [[graft.ops.FreqItems]], exactly as [[StreamDistinct]] is
  * the streaming face of [[graft.ops.Cardinality]].
  *
  * State per key is ≤ k counters plus one total, REGARDLESS of how
  * many events stream through — the same bounded-state argument as the
  * HLL stream: an exact per-key count map grows with the vocabulary,
  * which is unbounded on a 100 TB token stream.
  *
  * Replay contract: in the exact regime (k never exceeded for a key)
  * the fold is just counting — associative and batch-boundary-free, so
  * kill-and-resume, phase splits and file orderings all land on the
  * exact count table (FreqStreamSpec pins stream == batch == exact;
  * q145 pins it against the SQL oracle). In the truncating regime MG
  * folds are order-SENSITIVE in their individual estimates, but the
  * mergeable-summaries bounds (`estimate ≤ true`,
  * `true − estimate ≤ n/(k+1)`, every item above the bound present)
  * hold for EVERY arrival order and batch partitioning — the spec
  * asserts those, never a specific truncated counter value.
  */
object FreqStream {

  case class KeyFreq(k: String, n_total: Long, item: String, cnt: Long)

  private type MgState = (Long, Array[(String, Long)]) // (n_total, counters)

  /** Per-key running MG summary over a (key, item) stream: after each
    * micro-batch, every key updated in that batch re-emits its current
    * entries (item, lower-bound cnt) plus the fold total. Run with
    * output mode Update; the latest emission set per key is the
    * stream's answer so far. */
  def frequent(ds: Dataset[(String, String)], k: Int): Dataset[KeyFreq] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[MgState, KeyFreq](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(func = {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[MgState]) =>
          val hadState = state.exists
          val (n0, arr0) = state.getOption.getOrElse(
            (0L, Array.empty[(String, Long)]))
          var m = arr0.toMap
          var n = n0
          val agg = new FreqItems.MgAgg(k)
          // nulls don't count (same rule as the batch aggregator)
          rows.foreach { case (_, item) =>
            if (item != null) { m = agg.reduce(m, item); n += 1 }
          }
          if (!hadState && n == 0) Iterator.empty
          else {
            state.update((n, m.toArray))
            agg.finish(m).iterator
              .map(e => KeyFreq(key, n, e.item, e.cnt))
          }
      })(ExpressionEncoderHelp.mgState, Encoders.product[KeyFreq])

  case class KeyFreqOp(k: String, item: String, n_total: Long, cnt: Long,
                       op: String)

  /** The CDC-emitting fold behind [[frequentToStore]]: per touched
    * key, the batch's final counters as `upsert` rows PLUS one
    * `delete` row per item the fold EVICTED since the previous batch
    * (present in the prior state, absent now). Upsert/delete sets are
    * disjoint by construction (an item is in the final state or not),
    * so the mixed batch satisfies `applyOps`' conflict contract. */
  def frequentOps(ds: Dataset[(String, String)], k: Int)
      : Dataset[KeyFreqOp] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[MgState, KeyFreqOp](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(func = {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[MgState]) =>
          val hadState = state.exists
          val (n0, arr0) = state.getOption.getOrElse(
            (0L, Array.empty[(String, Long)]))
          var m = arr0.toMap
          var n = n0
          val agg = new FreqItems.MgAgg(k)
          rows.foreach { case (_, item) =>
            if (item != null) { m = agg.reduce(m, item); n += 1 }
          }
          if (!hadState && n == 0) Iterator.empty
          else {
            state.update((n, m.toArray))
            val kept = agg.finish(m)
            val keptSet = kept.iterator.map(_.item).toSet
            kept.iterator
              .map(e => KeyFreqOp(key, e.item, n, e.cnt, "upsert")) ++
              arr0.iterator.map(_._1).filterNot(keptSet)
                .map(it => KeyFreqOp(key, it, 0L, 0L, "delete"))
          }
      })(ExpressionEncoderHelp.mgState, Encoders.product[KeyFreqOp])

  /** [[frequent]] maintained as an MVCC LEDGER, keyed (k, item). MG
    * counters can EVICT items — unlike the KMV/histogram maintainers,
    * whose rows only grow or update in place — so a plain keyed upsert
    * would leave evicted items' stale rows serving forever. Each
    * micro-batch therefore lands [[frequentOps]]' mixed CDC emission
    * as ONE `apply` epoch ([[graft.sinks.VersionedStore.applyOps]]
    * behind [[EpochStream]]'s tagged exactly-once fence): the store
    * snapshot at every epoch equals the state the stream held after
    * that batch — kill/resume byte-parity and per-batch time travel
    * included (FreqStreamSpec pins all three). */
  def frequentToStore(spark: SparkSession, landingDir: String, k: Int,
                      storeRoot: String, nBuckets: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    frequentOps(
        StreamSessions.microBatch(spark).readStream.schema("k STRING, v STRING").parquet(landingDir)
          .as[(String, String)], k)
      .toDF()
      .writeStream
      .option("checkpointLocation", s"$storeRoot/ckpt_freq")
      .outputMode("update")
      .foreachBatch { (df: DataFrame, bid: Long) =>
        EpochStream(Seq("k", "item"), nBuckets, opCol = Some("op"))
          .processBatch(df, bid, storeRoot)
      }
      .start()
  }

  /** Phased-replay harness ([[StreamSessions.replayLatest]]): drive
    * [[frequent]] over `phases` (each a (k STRING, v STRING) frame
    * landed as one micro-batch group under `root`) and return the
    * LATEST emission SET per key — for MG that is every row of the
    * key's most recent batch emission, since a later batch re-emits
    * the key's whole summary. */
  def replayFrequent(spark: SparkSession, phases: Seq[DataFrame],
                     root: String, k: Int): DataFrame = {
    import spark.implicits._
    StreamSessions.replayLatest(spark, phases, root, "k STRING, v STRING") {
      in => frequent(in.as[(String, String)], k).toDF()
    }("k", "n_total", "item", "cnt")
  }
}

/** Encoder helper: a product encoder for the MG state tuple (kept out
  * of the hot closure so the encoder is constructed once). */
private object ExpressionEncoderHelp {
  val mgState: org.apache.spark.sql.Encoder[(Long, Array[(String, Long)])] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Long, Array[(String, Long)])]()
}
