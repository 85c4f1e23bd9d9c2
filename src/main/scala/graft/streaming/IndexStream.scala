package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.Similarity
import graft.sinks.VersionedStore

/** ANN index maintenance as a STREAMING job — [[RefreshStream]]'s
  * sibling for the vector side: embedding batches land on a
  * file-backed queue, each micro-batch is assigned to the index's
  * FROZEN centroids ([[Similarity.ivfIndexUpsert]]'s contract — a
  * batch must not move the index) and its posting rows land as one
  * atomic keyed-upsert epoch of a [[VersionedStore]].
  *
  * Exactly-once across kill/restart follows from one property —
  * keyed-upsert idempotency: every posting row is keyed by vector id
  * and its content is a pure function of (vector, frozen centroids),
  * so replaying a batch re-writes identical rows. No self-excluding
  * views are needed here (unlike the dedup gates, an assignment never
  * depends on other ledger rows). IndexStreamSpec pins kill-and-resume
  * ≡ one-shot assignment of the whole landing set, byte-identical.
  *
  * Scale notes: per batch the work is one broadcast of k·d centroids +
  * one argmax over the batch — O(batch · k), never O(corpus) — and the
  * store write rewrites only the buckets containing the batch's ids.
  * Serving reads the postings snapshot + the centroid table through
  * [[Similarity.ivfTopKFromIndex]] unchanged. The production swap-in
  * is the same Delta/Iceberg MERGE as RefreshStream's stores.
  */
final case class IndexStream(vecId: String, vecCol: String) {

  private def centDir(root: String) = s"$root/centroids"
  private def asgDir(root: String) = s"$root/postings"

  /** One-time bootstrap: train on the already-ingested corpus, persist
    * centroids (written once, FROZEN) and the initial posting lists. */
  def bootstrap(oldVectors: DataFrame, k: Int, iters: Int,
                root: String): Unit = {
    val idx = Similarity.ivfIndexBuild(oldVectors, vecId, vecCol, k, iters)
    idx.centroids.write.mode("overwrite").parquet(centDir(root))
    VersionedStore.upsert(idx.assignments, Seq("corpus_id"), asgDir(root))
    ()
  }

  /** Land one batch: assign to the frozen centroids, upsert postings.
    * Public so the one-shot equivalence spec can drive batches without
    * a stream. */
  def processBatch(batch: DataFrame, root: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val cents = spark.read.parquet(centDir(root))
    val asg = Similarity.ivfAssign(batch,
        cents.select(col("centroid_id"), col("centv").as(vecCol)),
        vecId, "centroid_id", vecCol)
    VersionedStore.upsert(asg, Seq("corpus_id"), asgDir(root))
    ()
  }

  /** The live index view over the persisted state (serve through
    * [[Similarity.ivfTopKFromIndex]]). */
  def index(spark: SparkSession, root: String): Similarity.IvfIndex =
    Similarity.IvfIndex(
      spark.read.parquet(centDir(root)),
      VersionedStore.read(spark, asgDir(root)))

  /** Start the landing-queue consumer: one micro-batch per landing
    * file, checkpointed for exactly-once restart. The checkpoint name
    * is stream-specific (`ckpt_index`) so an [[IndexStream]] and a
    * [[RefreshStream]] can maintain stores under the SAME root
    * concurrently — their store directories are already disjoint, and
    * ConcurrentStreamsSpec pins the combined kill/resume behavior. */
  def start(spark: SparkSession, landingDir: String, schema: StructType,
            root: String): StreamingQuery =
    StreamSessions.microBatch(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt_index")
      .foreachBatch { (b: DataFrame, _: Long) => processBatch(b, root) }
      .start()
}

/** [[IndexStream]]'s sibling for the COMBINED index
  * ([[Similarity.IvfPqIndex]]): per micro-batch the landing vectors
  * are cell-assigned AND PQ-encoded against the frozen centroid +
  * codebook tables ([[Similarity.ivfPqCode]]) and the resulting code
  * rows land as one keyed-upsert epoch. The exactly-once
  * argument is IndexStream's unchanged — every code row is keyed by
  * vector id and is a pure function of (vector, frozen tables), so a
  * replayed batch re-writes identical rows. Per-batch cost is
  * O(batch·(k + m·ksub)); the corpus is never re-encoded. Serving
  * reads the three tables through [[Similarity.ivfPqTopKFromIndex]]. */
final case class IvfPqStream(vecId: String, vecCol: String,
                             m: Int, dsub: Int) {

  private def centDir(root: String) = s"$root/ivfpq_centroids"
  private def cbDir(root: String) = s"$root/ivfpq_codebook"
  private def codesDir(root: String) = s"$root/ivfpq_codes"

  /** One-time bootstrap: train both tables on the already-ingested
    * corpus (written once, FROZEN), land the initial code rows. */
  def bootstrap(oldVectors: DataFrame, k: Int, iters: Int,
                ksub: Int, pqIters: Int, root: String): Unit = {
    val idx = Similarity.ivfPqIndexBuild(oldVectors, vecId, vecCol,
      k, iters, m, dsub, ksub, pqIters)
    idx.centroids.write.mode("overwrite").parquet(centDir(root))
    idx.codebook.write.mode("overwrite").parquet(cbDir(root))
    VersionedStore.upsert(idx.codes, Seq("corpus_id"), codesDir(root))
    ()
  }

  /** Land one batch against the frozen tables. Public so the one-shot
    * equivalence spec can drive batches without a stream. */
  def processBatch(batch: DataFrame, root: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val rows = Similarity.ivfPqCode(batch, vecId, vecCol, m, dsub,
        spark.read.parquet(centDir(root)), spark.read.parquet(cbDir(root)))
    VersionedStore.upsert(rows, Seq("corpus_id"), codesDir(root))
    ()
  }

  /** The live combined index over the persisted state. */
  def index(spark: SparkSession, root: String): Similarity.IvfPqIndex =
    Similarity.IvfPqIndex(
      spark.read.parquet(centDir(root)),
      spark.read.parquet(cbDir(root)),
      VersionedStore.read(spark, codesDir(root)))

  /** Start the landing-queue consumer (checkpoint name is
    * stream-specific, the ConcurrentStreamsSpec convention). */
  def start(spark: SparkSession, landingDir: String, schema: StructType,
            root: String): StreamingQuery =
    StreamSessions.microBatch(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt_ivfpq")
      .foreachBatch { (b: DataFrame, _: Long) => processBatch(b, root) }
      .start()
}
