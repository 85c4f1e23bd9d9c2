package graft.connectors

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.VersionedStore

/** Epoch offset for the store's streaming source: the stream's
  * position IS the last fully-served commit epoch — restart-safe by
  * construction, since epochs are the store's own atomic units. */
private[connectors] final case class VStoreOffset(epoch: Long)
    extends Offset {
  override def json: String = epoch.toString
}

/** `spark.readStream.format("graft-vstore")` — SUBSCRIBE to a store
  * (round-15, the Delta-source analogue): each micro-batch serves the
  * newly committed epochs' KEYED CHANGE FACTS,
  * {{{
  *   spark.readStream.format("graft-vstore")
  *     .option("path", root).option("changeFeed", "true")
  *     .option("startingEpoch", e0)   // default: tail from "now"
  *     .load()                        // row cols + _op + _change_epoch
  * }}}
  * Semantics — every emitted row is a fact "key k has value v as of
  * epoch E" (`_op = upsert`) or "key k is gone as of epoch E"
  * (`_op = delete`):
  *
  *  - a DELTA epoch (`deltaUpsert`/`deltaApply`) streams exactly its
  *    batch-sized delta generations — precise changes, tombstones as
  *    deletes;
  *  - a COW upsert epoch streams its rewritten generations in full —
  *    a SUPERSET of the real changes (unchanged same-bucket keys
  *    re-assert their value), which a keyed-idempotent consumer
  *    (every maintainer here) folds for free;
  *  - a COW `delete`/`apply` epoch FAILS the stream loudly: those
  *    rewrites drop keys with no tombstone row, so the change feed
  *    cannot represent them — maintain a subscribed store with the
  *    MOR write path ([[VersionedStore.deltaApply]]), or restart the
  *    subscription from a fresh snapshot.
  *
  * The LAMBDA HANDOFF for bootstrapping: batch-read the snapshot at
  * epoch e0, then stream with `startingEpoch = e0` — offsets are
  * epochs, so the handoff is exact and replay-free. `startingEpoch`
  * must be at or above the vacuum retention watermark (older per-epoch
  * generations may be gone); the default tails from the current epoch
  * at stream start. `maxEpochsPerTrigger` bounds the catch-up stride:
  * a lagging subscriber drains its backlog in ⌈lag/limit⌉ micro-batches
  * instead of planning every missed epoch into one (admission
  * control). An epoch that EVOLVED the schema fails the stream loudly
  * — the pinned row schema cannot represent it (restart to resubscribe
  * under the new shape). Micro-batch planning is driver metadata only
  * (commit log + pooled generation listings); executors read the
  * generation files directly. */
private[connectors] final class VStoreMicroBatchStream(
    path: String, rowSchema: StructType, startingEpoch: Option[Long],
    maxEpochsPerTrigger: Option[Long] = None,
    leaseId: Option[String] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl {

  // SUBSCRIBER LEASE (round-16): heartbeat the last durably-committed
  // offset into the store every trigger, so routine vacuums hold their
  // watermark at the oldest live subscription instead of deleting the
  // change files it has yet to serve (the vacuum-grace-floor idea,
  // extended to subscriptions; lease expiry releases the floor)
  private def heartbeat(epoch: Long): Unit =
    leaseId.foreach(id =>
      VersionedStore.heartbeatSubscriber(path, id, epoch))

  override def initialOffset(): Offset = {
    val view = VersionedStore.listRoot(path)
    val wm = view.watermark
    val e = startingEpoch.getOrElse(view.current)
    require(e >= wm,
      s"graft-vstore stream: startingEpoch $e is below the vacuum " +
        s"retention watermark $wm — per-epoch change files may be gone; " +
        "bootstrap from a batch snapshot and stream from its epoch")
    heartbeat(e)
    VStoreOffset(e)
  }
  override def latestOffset(): Offset =
    VStoreOffset(VersionedStore.currentEpoch(path))

  // ---- SupportsAdmissionControl (round-16): a subscriber resuming
  // from a long-idle checkpoint must not plan EVERY missed epoch's
  // files into one unbounded micro-batch — `maxEpochsPerTrigger`
  // caps the catch-up stride per trigger (Delta's maxFilesPerTrigger
  // posture, in the store's own atomic unit). Epochs are contiguous
  // by the commit fence, so the cap is a plain clamp; with no option
  // set the stream admits everything, exactly as before.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxEpochsPerTrigger match {
      case Some(m) =>
        require(m >= 1L,
          s"graft-vstore stream: maxEpochsPerTrigger must be >= 1, got $m")
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(m)
      case None =>
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    }
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val s = start.asInstanceOf[VStoreOffset].epoch
    heartbeat(s) // `start` is checkpoint-committed: everything after
                 // it is still needed — exactly the lease's floor
    val cur = VersionedStore.currentEpoch(path)
    VStoreOffset(maxEpochsPerTrigger match {
      case Some(m) => math.min(cur, s + m)
      case None => cur
    })
  }
  override def reportLatestOffset(): Offset =
    VStoreOffset(VersionedStore.currentEpoch(path))

  override def deserializeOffset(json: String): Offset =
    VStoreOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VStoreOffset].epoch
    val e = end.asInstanceOf[VStoreOffset].epoch
    if (e <= s) return Array.empty
    // schema fence (round-15 ADVICE): the stream's row schema was
    // pinned at start — an epoch committed after an additive
    // evolution would read through the OLD shape and silently emit
    // facts lacking the new column, so a folding subscriber would
    // build an incomplete replica while believing it has full facts.
    // Fail loudly instead (Delta CDF's posture on schema change).
    val view = VersionedStore.listRoot(path)
    val evolved = view.evolutions.filter(ep => ep > s && ep <= e)
    if (evolved.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft-vstore stream: epoch ${evolved.head} evolved the store " +
          "schema; this subscription's row schema was pinned at stream " +
          "start and would silently drop the new column(s). Restart the " +
          "subscription (optionally bootstrapping from a batch snapshot " +
          "at the evolved epoch) to pick up the new schema")
    view.commits
      .filter(c => c.epoch > s && c.epoch <= e)
      .flatMap { c =>
        val base = c.kind.split("@")(0)
        val delta = base == "dapply"
        if (base == "delete" || base == "apply")
          throw new UnsupportedOperationException(
            s"graft-vstore stream: epoch ${c.epoch} is a COW '$base' " +
              "commit — its rewrite drops keys with no tombstone row, so " +
              "the change feed cannot represent it. Maintain a subscribed " +
              "store with the MOR write path (deltaApply/deltaUpsert), or " +
              "restart the subscription from a fresh snapshot")
        VersionedStore.epochChangeFiles(path, c.epoch, c.buckets).collect {
          case (_, files) if files.nonEmpty =>
            VStreamPartition(files, c.epoch, delta): InputPartition
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VStreamReaderFactory(rowSchema)
}

private[connectors] final case class VStreamPartition(
    files: Seq[String], epoch: Long, hasOp: Boolean) extends InputPartition

private[connectors] final case class VStreamReaderFactory(
    rowSchema: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[VStreamPartition]
    val innerSchema =
      if (part.hasOp)
        StructType(rowSchema.fields :+ StructField("_op", StringType))
      else rowSchema
    val inner = new BucketReader(part.files, innerSchema)
    val n = rowSchema.length
    val upsert = UTF8String.fromString("upsert")
    val delete = UTF8String.fromString("delete")
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val r = inner.get()
        val vals = new Array[Any](n + 2)
        var i = 0
        while (i < n) {
          vals(i) = if (r.isNullAt(i)) null else r.get(i, rowSchema(i).dataType)
          i += 1
        }
        vals(n) =
          if (part.hasOp && !r.isNullAt(n) &&
              r.getUTF8String(n).toString == "delete") delete
          else upsert
        vals(n + 1) = part.epoch
        new GenericInternalRow(vals)
      }
      override def close(): Unit = inner.close()
    }
  }
}
