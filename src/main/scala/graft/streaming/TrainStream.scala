package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sinks.VersionedStore

/** Streaming maintainer for a TRAINED linear-probe weight ledger — the
  * online half of [[graft.ops.LinearTrainer]]: each landing batch of
  * labeled examples applies ONE integer-exact mini-batch LMS step to
  * the persisted weights, so the quality probe keeps learning as data
  * lands without ever revisiting history.
  *
  * Exactly-once is harder here than for the count ledgers
  * ([[LmStream]]): a gradient step is neither idempotent nor
  * commutative — it READS the model it updates, so replaying a crashed
  * batch against half-updated weights would compute a DIFFERENT
  * gradient and diverge from the one-shot trajectory. Three composed
  * properties restore convergence:
  *
  *  1. **Previous-value weight rows.** Every row carries
  *     (w, w_prev, last_epoch); a step writes w_new, keeps the
  *     pre-step value in w_prev, and stamps the epoch. The EFFECTIVE
  *     weight a batch trains against is `w_prev` when
  *     `last_epoch ≥ epoch` (a crashed attempt of THIS epoch already
  *     bumped the row) else `w` — so a replay recomputes the gradient
  *     against exactly the pre-step model, bit-for-bit.
  *  2. **Epoch-guarded updates.** A row with `last_epoch ≥ epoch`
  *     keeps its (w, w_prev) — and because rule 1 makes the recomputed
  *     update deterministic, rows the crashed attempt DID bump already
  *     hold precisely the value the replay would write.
  *  3. **Epoch-filtered novelty** (the [[LmStream]] rule): the
  *     landed-ids ledger drops queue redeliveries in LATER epochs
  *     while ids landed by a crashed attempt of the current epoch
  *     still count as novel — so the batch (and its size n, which
  *     scales the step) is identical on every replay.
  *
  * Either store may crash mid-write in any order; the replay
  * converges byte-for-byte (TrainStreamSpec drives the matrix and
  * pins the stream against the driver-side mini-batch fold).
  *
  * Scale shape (round-16): per batch, one stability-guard aggregation
  * and two map-side-combined aggregations over the BATCH's features
  * (scores, gradient), one scan of the model-sized weight ledger, and
  * a BOUNDED landed-ids probe — the docs ledger is an MVCC versioned
  * store written MERGE-ON-READ ([[VersionedStore.deltaUpsert]]): each
  * epoch lands its novel ids as batch-sized DELTA generations under an
  * atomic tagged commit, so per-batch ledger WRITE bytes track the
  * batch, never the corpus — the round-15 write-side asymptote flag;
  * the novelty probe ([[VersionedStore.lookup]]) opens only the batch
  * ids' bucket chains with the ids pushed into the scan. Chain length
  * is bounded by [[MaxDeltas]] via the store's compaction POLICY
  * (metadata-only below the threshold) — the LSM fold this replaces
  * ran O(ledger/16) of merge work on the landing path by its own doc.
  * The model never collects to the driver; the step is one declarative
  * plan. The weight ledger (MODEL-sized by contract — its rewrite is
  * O(model), not O(corpus)) is a single-bucket copy-on-write store
  * ([[VersionedStore.upsert]]), whose atomic epoch commit gives rules
  * 1+2 their all-or-nothing step.
  *
  * @param id        example id column name
  * @param featurize batch → (id, bucket, x) sparse integer features
  *                  (e.g. [[graft.ops.LinearTrainer.embeddingFeatures]])
  * @param label     µ-unit target expression over the batch (±1e6 —
  *                  [[graft.ops.LinearTrainer.labelU]])
  * @param lrDenom   step size 1/(lrDenom·n_batch); each batch measures
  *                  max‖x‖² and requires lrDenom ≥ it (2/λmax bound)
  * @param docBuckets landed-ids ledger geometry at creation
  *                  (existing stores keep their marker's count)
  */
final case class TrainStream(id: String, featurize: DataFrame => DataFrame,
                             label: Column, lrDenom: Long,
                             docBuckets: Int = 8) {

  private def wDir(root: String) = s"$root/tr_weights"
  private def docsDir(root: String) = s"$root/tr_docs"

  private val WSchema = StructType.fromDDL(
    "b BIGINT, w BIGINT, w_prev BIGINT, last_epoch BIGINT")

  /** Delta-chain length that triggers compaction of a docs-ledger
    * bucket — bounds the novelty probe at ~MaxDeltas+1 opens per
    * batch-id bucket; the knob trades probe fan-in against compaction
    * frequency (see [[maintain]]). */
  private val MaxDeltas = 8

  /** Read the weight ledger (may legitimately be empty: training
    * starts from the zero model). */
  private def readWeights(spark: SparkSession, root: String): DataFrame =
    if (VersionedStore.currentEpoch(wDir(root)) == 0L)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], WSchema)
    else VersionedStore.read(spark, wDir(root))

  /** The landed ids that can collide with `batchIds` — the BOUNDED
    * novelty probe ([[VersionedStore.probeForKeys]]): opens only the
    * chains of the buckets the batch ids hash into (bucket discovery
    * is one Spark job, never a driver collect of a large batch), ids
    * pushed into the scan when the probe is small. SUPERSET contract;
    * the caller's semi/anti joins and epoch filter implement rule 3
    * exactly. */
  private def probeDocs(spark: SparkSession, root: String,
                        batchIds: DataFrame,
                        emptySchema: StructType): (DataFrame, Boolean) =
    if (VersionedStore.currentEpoch(docsDir(root)) == 0L)
      (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema),
        true)
    else VersionedStore.probeForKeysWithExactness(spark, docsDir(root),
      batchIds, resolveMor = false) // append-only: ids land exactly once

  /** Compact over-long docs-ledger chains
    * ([[VersionedStore.compactIfNeeded]]) — maintenance, not serving:
    * metadata-only below the threshold, and a deployment can schedule
    * it from its own window instead (batches are serialized per
    * stream, so the inline call never races a write). */
  def maintain(spark: SparkSession, root: String): Unit =
    if (VersionedStore.currentEpoch(docsDir(root)) > 0L) {
      VersionedStore.compactIfNeeded(spark, docsDir(root), MaxDeltas)
      ()
    }

  /** Apply one mini-batch step at `epoch`. Public so the crash-matrix
    * spec can drive replays and redeliveries without a stream.
    *
    * Per-batch job shape (round-13, TrainJobCountSpec pins it): the
    * novelty anti-join's count doubles as the empty-batch check; the
    * stability bound (max row norm²) RIDES the scoring aggregation
    * instead of its own scan (one persisted per-id pass yields score
    * and norm together, the fused-probe pattern applyOps uses); and
    * the model-sized frames (effective weights, per-id errors, current
    * ledger) join with explicit broadcast hints so no shuffle stage —
    * and no AQE stage-job — materializes for them. The step runs on
    * the landed frame rebound to an AQE-off micro-batch session clone
    * ([[StreamSessions.step]]); the caller's session is never
    * touched, so concurrent maintainers need no lock. */
  def processBatch(landed: DataFrame, epoch: Long, root: String): Unit = {
    val batch = StreamSessions.step(landed)
    val spark = batch.sparkSession
    val docsSchema = StructType(Seq(batch.schema(id),
      StructField("epoch", LongType)))
    // rule 3 — novelty, bounded and shuffle-free at any ledger size:
    // the probe returns exactly the batch ids' ledger rows (bucket-
    // pruned, ids pushed), the epoch filter keeps the current epoch's
    // own crashed-attempt rows novel, and the batch anti-joins the
    // batch-sized hit set broadcast — no Exchange, opens f(batch)
    val (prior, priorExact) = StreamSessions.labeled(spark,
        s"train e$epoch: docs novelty probe") {
      probeDocs(spark, root, batch.select(col(id)), docsSchema)
    }
    val landedPrior = prior.filter(col("epoch") < epoch).select(col(id))
    // an EXACT probe (literal key push) already holds only batch ids —
    // anti-join it directly; the superset path refines map-side first
    val landedHit =
      if (priorExact) landedPrior
      else landedPrior
        .join(broadcast(batch.select(col(id))), Seq(id), "left_semi")
    val novel = StreamSessions.labeled(spark,
        s"train e$epoch: novel batch") {
      batch.join(broadcast(landedHit), Seq(id), "left_anti")
        .localCheckpoint() // feeds n, feats and labels
    }
    val n = novel.count() // 0 covers the empty-batch case too
    if (n == 0) return
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val feats = featurize(novel)
      .select(col(id), col("bucket").cast("long").as("_b"),
        col("x").cast("long").as("_x"))
      .persist(lvl)
    var sums: DataFrame = null
    try {
    val cur = readWeights(spark, root)
    // rule 1: the model this batch trains against (model-sized —
    // broadcast, never shuffled)
    val eff = cur.select(col("b").as("_b"),
      when(col("last_epoch") >= epoch, col("w_prev")).otherwise(col("w"))
        .as("_we"))
    // ONE per-id pass: score AND row norm² (the stability bound) —
    // the left join preserves every feature row exactly once (the
    // ledger is unique per bucket), so the fused norm equals the
    // dedicated scan it replaces
    sums = feats.join(broadcast(eff), Seq("_b"), "left")
      .groupBy(col(id))
      .agg(sum(col("_x") * coalesce(col("_we"), lit(0L))).cast("long").as("_s"),
        sum(col("_x") * col("_x")).cast("long").as("_rn"))
      .persist(lvl)
    val maxRowNorm2 = StreamSessions.labeled(spark,
        s"train e$epoch: score + stability bound") {
      sums.agg(coalesce(max(col("_rn")), lit(0L)).cast("long"))
        .collect()(0).getLong(0)
    }
    require(lrDenom >= maxRowNorm2,
      s"TrainStream: lrDenom=$lrDenom < max row norm² $maxRowNorm2 at epoch " +
        s"$epoch — the LMS step would exceed the 2/λmax stability bound")

    val errs = novel.select(col(id), label.cast("long").as("_y"))
      .join(sums, Seq(id), "left")
      .select(col(id), (coalesce(col("_s"), lit(0L)) - col("_y")).as("_e"))
    val grad = feats.join(broadcast(errs), Seq(id))
      .groupBy(col("_b"))
      .agg(sum(col("_x") * col("_e")).cast("long").as("_g"))
    // rules 1+2 applied per touched row; untouched rows never rewrite
    require(lrDenom <= Long.MaxValue / math.max(n, 1L),
      s"TrainStream: lrDenom=$lrDenom * n=$n overflows the Long step divisor" +
        " at epoch " + epoch + " — shrink the batch or lower lrDenom")
    val div = lrDenom * n
    val merged = grad.join(broadcast(cur), grad("_b") === cur("b"), "left")
      .select(col("_b").as("b"),
        col("_g"),
        coalesce(col("last_epoch"), lit(-1L)).as("_le"),
        col("w").as("_w_cur"), col("w_prev").as("_wp_cur"),
        when(col("last_epoch") >= epoch, col("w_prev"))
          .otherwise(coalesce(col("w"), lit(0L))).as("_eff"))
      .select(col("b"),
        when(col("_le") >= epoch, col("_w_cur"))
          .otherwise(col("_eff") - expr(s"_g div ${div}L")).as("w"),
        when(col("_le") >= epoch, col("_wp_cur"))
          .otherwise(col("_eff")).as("w_prev"),
        greatest(col("_le"), lit(epoch)).as("last_epoch"))
    // the upsert's own internal checkpoint is merged's ONE
    // materialization; a second checkpoint here would double it. ONE
    // bucket: the weight ledger is model-sized by contract (≤ feature
    // buckets rows), and every batch touches most of it — a multi-
    // bucket layout would just multiply the per-epoch generation
    // renames (round-14; existing stores keep their marker's own count).
    // The docs land is an MVCC TAGGED delta commit: a replay whose
    // docs already committed skips it (atomic — no half-landed ids
    // can exist), and the delta derives from the checkpointed novel
    // frame, so the two stores stay independent and land concurrently
    // (the crash matrix already covers either store failing first).
    val docTag = s"e$epoch"
    StreamSessions.inParallel(
      () => StreamSessions.labeled(spark, s"train e$epoch: weights land") {
        VersionedStore.upsert(merged, Seq("b"), wDir(root), nBuckets = 1)
      },
      () => if (VersionedStore.taggedEpoch(docsDir(root), docTag).isEmpty)
        // ids are unique per batch (the landing contract — r15's
        // append assumed the same): keysUnique lands the delta with
        // the staging write as the ONLY action — no validation
        // aggregation and no defensive distinct shuffle rides every
        // micro-batch (a contract violation lands duplicate identical
        // (id, epoch) rows, which newest-wins resolves to the same
        // content either way)
        StreamSessions.labeled(spark, s"train e$epoch: docs delta land") {
          VersionedStore.deltaUpsert(
            novel.select(col(id)).withColumn("epoch", lit(epoch)),
            Seq(id), docsDir(root), nBuckets = docBuckets, tag = docTag,
            keysUnique = true)
        })
    // compaction policy AFTER the epoch landed (metadata-only below
    // the MaxDeltas threshold) — bounds the next batches' probe fan-in
    StreamSessions.labeled(spark, s"train e$epoch: compaction policy") {
      maintain(spark, root)
    }
    // unpersist in finally (round-15): an ABORTED batch — the
    // stability-bound require, a simulated crash in the replay matrix
    // — used to leak the persisted feats/sums forever (the cache
    // lifecycle spec caught the leak poisoning later suites)
    } finally {
      if (sums != null) sums.unpersist()
      feats.unpersist()
    }
  }

  /** The live model: (b, w_u) — feed it to
    * [[graft.ops.LinearTrainer.serve]] via `collect → Map` for driver
    * serving, or join it directly for in-plan scoring. */
  def weights(spark: SparkSession, root: String): DataFrame =
    readWeights(spark, root)
      .select(col("b"), col("w").as("w_u"))

  /** Start the landing-queue consumer (one micro-batch per landing
    * file; checkpoint `ckpt_train` so this maintainer shares a root
    * with the others). */
  def start(spark: SparkSession, landingDir: String, schema: StructType,
            root: String): StreamingQuery =
    StreamSessions.microBatch(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt_train")
      .foreachBatch { (b: DataFrame, e: Long) => processBatch(b, e, root) }
      .start()
}
