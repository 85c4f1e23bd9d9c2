package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.{ApproxDedup, Dedup, SemanticDedup}
import graft.sinks.VersionedStore

/** The corpus-refresh pipeline as a STREAMING job: landing batches
  * arrive on a file-backed queue, each micro-batch runs the q110
  * three-gate composition (exact fingerprint → lexical MinHash-LSH →
  * semantic centroid) against the PERSISTED ledgers, and the accepted
  * documents plus all three ledger deltas land as keyed-upsert epochs
  * of five [[VersionedStore]]s (each epoch one atomic commit, so a
  * crash at any point leaves every store at a complete snapshot).
  *
  * Exactly-once across kill/restart WITHOUT cross-store transactions,
  * by composing two properties:
  *
  *  1. **Keyed-upsert idempotency** — every store row is keyed by
  *     document id (fingerprints ride as (id, fp) rows, not a bare fp
  *     set), so replaying a batch re-writes identical rows.
  *  2. **Self-excluding ledger views** — each gate reads its ledger
  *     MINUS the current batch's ids. A replayed batch therefore sees
  *     the same pre-batch state whether the previous attempt died
  *     before, between, or after its store writes: partially-landed
  *     ledger rows from the crashed attempt are invisible to the
  *     retry. Structured Streaming's checkpoint replays the last
  *     uncommitted batch; these two properties make that replay
  *     converge to the uninterrupted result byte-for-byte
  *     (RefreshStreamSpec proves it against the one-shot q110 form).
  *
  * Batching-equivalence contract: when micro-batches partition the
  * landing set in ascending id order (a queue's arrival order), the
  * accepted store equals the ONE-SHOT three-gate composition
  * byte-for-byte — each gate's ledger delta is that gate's SEEN set
  * (see processBatch), which is exactly the state the one-shot
  * within-batch rules consult. Any other batching is still
  * exactly-once and convergent; ordering only decides which of two
  * mutual near-duplicates survives (the smaller-id-wins convention
  * needs ids to arrive in order to be meaningful).
  *
  * Scale notes: per batch every gate's work is O(|ledger scan| +
  * |batch| + collisions) — history is never recomputed (the ledgers
  * are the round-7 [[ApproxDedup.LshLedger]]/[[SemanticDedup
  * .SemLedger]] contract). Every keyed store is hash-bucketed
  * ([[VersionedStore.upsert]]): a batch rewrites only the buckets
  * containing its keys — O(batch), not O(store); a crash between two
  * stores' commits is covered by the same two replay properties above
  * (the retry re-merges every store idempotently). A production
  * deployment swaps the store for a Delta/Iceberg MERGE (same key-replace
  * contract, same log-structured cost). Reference analogue: the
  * consume loop + sent-message ledger probe
  * (TaskExecutor/TaskExecutor.py:18-49,
  * AzureTaskProducer/inventory_lib.py:146-162) — DynamoDB update_item
  * touches only written keys, which is exactly the bucket contract.
  *
  * @param id        document id column (key of every store)
  * @param fp        exact-gate fingerprint expression over a doc row
  * @param shingles  lexical-gate shingle-set expression over a doc row
  * @param vecId     embedding-table id column (joins to `id`)
  */
final case class RefreshStream(
    id: String, fp: Column, shingles: Column,
    k: Int, bands: Int, rowsPerBand: Int, lexThreshold: Double,
    vecId: String, vecCol: String,
    semK: Int, semIters: Int, semThreshold: Double) {

  private def fpDir(root: String) = s"$root/fp"
  private def bkDir(root: String) = s"$root/lsh_buckets"
  private def setsDir(root: String) = s"$root/lsh_sets"
  private def centDir(root: String) = s"$root/sem_centroids"
  private def asnDir(root: String) = s"$root/sem_assignments"
  private def outDir(root: String) = s"$root/accepted"

  /** One-time ledger bootstrap from the already-ingested corpus (the
    * stream then only ever appends). Centroids are written once and
    * FROZEN — [[SemanticDedup.updatedSemLedger]]'s contract. */
  def bootstrap(oldDocs: DataFrame, oldEmb: DataFrame, root: String): Unit = {
    VersionedStore.upsert(oldDocs.select(col(id), fp.as("fp")),
      Seq(id), fpDir(root))
    val lsh = ApproxDedup.lshLedger(
      oldDocs.withColumn("_sh", shingles).select(col(id), col("_sh")),
      id, "_sh", k, bands, rowsPerBand)
    VersionedStore.upsert(lsh.buckets, Seq(id, "band"), bkDir(root))
    VersionedStore.upsert(lsh.sets, Seq(id), setsDir(root))
    val sem = SemanticDedup.semLedger(oldEmb, vecId, vecCol, semK, semIters)
    sem.centroids.write.mode("overwrite").parquet(centDir(root))
    VersionedStore.upsert(sem.assignments, Seq(vecId), asnDir(root))
    ()
  }

  /** Land one batch: gate against self-excluding ledger views, then
    * upsert the accepted rows + the three ledger deltas. Public so the
    * one-shot equivalence spec can drive batches without a stream. */
  def processBatch(batch: DataFrame, emb: DataFrame, root: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val ids = batch.select(col(id)).distinct().localCheckpoint()
    def store(dir: String): DataFrame = VersionedStore.read(spark, dir)
    def excl(df: DataFrame, idCol: String): DataFrame =
      df.join(ids.select(col(id).as(idCol)), Seq(idCol), "left_anti")

    // gate 1: exact fingerprint vs the (self-excluded) fp ledger view
    val s1 = Dedup.incrementalNovel(batch, id, fp,
      excl(store(fpDir(root)), id).select("fp"))
    // gate 2: lexical near-dup vs the persisted LSH ledger
    val s2 = ApproxDedup.incrementalLshNovelFromLedger(
      ApproxDedup.LshLedger(
        excl(store(bkDir(root)), id), excl(store(setsDir(root)), id)),
      s1.withColumn("_sh", shingles),
      id, "_sh", k, bands, rowsPerBand, lexThreshold).drop("_sh")
    // gate 3: semantic vs frozen centroids + (self-excluded) assignments;
    // docs without an embedding row pass through (anti-join on DROPPED)
    val batchEmb = emb.join(s2.select(col(id).as(vecId)), Seq(vecId))
    val s3 = SemanticDedup.incrementalSurvivorsFromLedger(
      SemanticDedup.SemLedger(
        spark.read.parquet(centDir(root)), excl(store(asnDir(root)), vecId)),
      batchEmb, vecId, vecCol, semThreshold)
    val dropped = batchEmb.select(col(vecId).as(id))
      .join(s3.select(col(vecId).as(id)), Seq(id), "left_anti")

    // every store view above resolved its snapshot's (immutable)
    // generation files when it was built, so these lazy plans read the
    // pre-batch state whatever order the upserts below commit in; each
    // upsert materializes its own batch once
    val accepted = s2.join(dropped, Seq(id), "left_anti")
    // Ledger deltas are each gate's SEEN set, not the final accepted
    // set: the one-shot composition's within-batch rules let a doc
    // that entered gate N drop larger-id batch-mates there even when
    // it is itself dropped at a LATER stage — so the incremental state
    // that reproduces one-shot semantics across micro-batches is
    // "reached gate 1" (every landed doc's fp), "reached gate 2"
    // (stage-1 survivors' buckets/sets), "reached gate 3" (stage-2
    // survivors' assignments). The accepted store alone carries the
    // final-survivor semantics.
    val fpDelta = batch.select(col(id), fp.as("fp"))
    val lshDelta = ApproxDedup.lshLedger(
      s1.withColumn("_sh", shingles).select(col(id), col("_sh")),
      id, "_sh", k, bands, rowsPerBand)
    val asnDelta = SemanticDedup.assignUnit(
      batchEmb, spark.read.parquet(centDir(root)), vecId, vecCol)

    VersionedStore.upsert(accepted, Seq(id), outDir(root))
    VersionedStore.upsert(fpDelta, Seq(id), fpDir(root))
    VersionedStore.upsert(lshDelta.buckets, Seq(id, "band"), bkDir(root))
    VersionedStore.upsert(lshDelta.sets, Seq(id), setsDir(root))
    VersionedStore.upsert(asnDelta, Seq(vecId), asnDir(root))
    ()
  }

  /** The accepted-corpus store (what a consumer trains on). */
  def accepted(spark: SparkSession, root: String): DataFrame =
    VersionedStore.read(spark, outDir(root))

  /** Start the landing-queue consumer: one micro-batch per landing
    * file (so batch boundaries equal file boundaries — the contract
    * the kill/resume spec pins), checkpointed for exactly-once
    * restart. The checkpoint name is stream-specific (`ckpt_refresh`)
    * so this stream and an [[IndexStream]] can maintain stores under
    * the SAME root concurrently (disjoint store dirs; the combined
    * kill/resume behavior is ConcurrentStreamsSpec's contract). */
  def start(spark: SparkSession, landingDir: String, schema: StructType,
            emb: DataFrame, root: String): StreamingQuery =
    StreamSessions.microBatch(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt_refresh")
      .foreachBatch { (b: DataFrame, _: Long) => processBatch(b, emb, root) }
      .start()
}
