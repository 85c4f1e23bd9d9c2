package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.VersionedStore

/** A versioned-store REPLICA maintained from the store's own CHANGE
  * FEED (round-16 — the round-15 streaming source consumed in anger):
  * {{{
  *   ReplicaStream.subscribe(spark, srcRoot, replicaRoot,
  *     ckpt = s"$root/ckpt_replica", maxEpochsPerTrigger = Some(8))
  * }}}
  * subscribes `spark.readStream.format("graft-vstore")` with
  * `changeFeed = true` and folds every emitted fact — "key k has value
  * v as of epoch E" / "key k is gone as of epoch E" — into a second
  * MVCC store, epoch by epoch. The replica is a full store in its own
  * right: its history, time travel, compaction and vacuum are its own;
  * only its CONTENT tracks the source. This is the lambda-handoff
  * follower the change feed exists for — a mirror on another
  * filesystem, a serving copy co-located with a dashboard, a
  * downstream pipeline's ingest point — without the source ever being
  * polled or its buckets re-read.
  *
  * Exactly-once composes three fences, none new:
  *
  *  1. **Epoch offsets** (the source contract): a micro-batch carries
  *     whole source epochs; checkpoint resume replays nothing.
  *  2. **Per-epoch tags**: each source epoch folds into the replica as
  *     one `deltaApply` commit tagged `src<E>`; a crash-replayed batch
  *     finds the tag committed and skips — the [[ViewStream]] fence.
  *  3. **In-order, per-epoch application**: a catch-up batch spanning
  *     several epochs applies them ascending, one commit each, so
  *     newest-wins within the replica always agrees with the source's
  *     own history (and a COW upsert epoch's re-asserted unchanged
  *     keys fold idempotently — same key, same value).
  *
  * Scale shape: per source epoch the replica writes O(changes) delta
  * generations (`deltaApply` — tombstones for deletes, no presence
  * probes, nothing rewritten); a lagging subscriber bounded by
  * `maxEpochsPerTrigger` catches up in epoch-sized strides. COW
  * delete/apply epochs on the source fail the stream loudly (the
  * source contract — their rewrites drop keys with no tombstone); a
  * source maintained MOR streams precisely. Compaction of the replica
  * is the subscriber's own policy ([[VersionedStore.compactIfNeeded]]).
  */
object ReplicaStream {

  /** Fold one micro-batch of change facts into the replica. Public so
    * specs can drive replays without a stream. `batch` carries the
    * source row columns + `_op` + `_change_epoch`. */
  def applyFacts(batch: DataFrame, replicaRoot: String, keyCols: Seq[String],
                 nBuckets: Int): Unit = {
    val mat = StreamSessions.step(batch).localCheckpoint()
    val epochs = mat.select("_change_epoch").distinct()
      .collect().map(_.getLong(0)).sorted
    epochs.foreach { e =>
      val tag = s"src$e"
      if (VersionedStore.taggedEpoch(replicaRoot, tag).isEmpty) {
        VersionedStore.deltaApply(
          mat.filter(col("_change_epoch") === e).drop("_change_epoch"),
          keyCols, replicaRoot, opCol = "_op", nBuckets = nBuckets,
          tag = tag, preMaterialized = true)
        ()
      }
    }
  }

  /** Start the subscription. The replica inherits the SOURCE's key
    * columns (its own bucket count is `nBuckets`, fixed at creation).
    * `startingEpoch` defaults to 0 — full replication from the
    * source's first epoch; a handoff bootstrap imports a snapshot and
    * subscribes from its epoch instead. */
  def subscribe(spark: SparkSession, srcRoot: String, replicaRoot: String,
                ckpt: String, startingEpoch: Long = 0L,
                maxEpochsPerTrigger: Option[Long] = None,
                nBuckets: Int = 8): StreamingQuery = {
    val keyCols = VersionedStore.keyColsOf(srcRoot)
    val reader = StreamSessions.microBatch(spark).readStream.format("graft-vstore")
      .option("path", srcRoot).option("changeFeed", "true")
      .option("startingEpoch", startingEpoch.toString)
    maxEpochsPerTrigger.foreach(m =>
      reader.option("maxEpochsPerTrigger", m.toString))
    reader.load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        applyFacts(b, replicaRoot, keyCols, nBuckets)
      }
      .start()
  }
}
