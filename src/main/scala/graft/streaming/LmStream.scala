package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.CorpusSignals
import graft.sinks.VersionedStore

/** Streaming maintainer for the n-gram LM raw-count ledger — the
  * fourth member of the streaming-summary family ([[StreamDistinct]] =
  * cardinality, [[FreqStream]] = frequency, [[HistStream]] =
  * distribution, this = language-model counts): landing documents fold
  * their (context, word) gram counts into a persisted vocabulary-sized
  * store, so the LM cross-entropy quality gate
  * ([[CorpusSignals.lmCrossEntropy]]) serves from live state without
  * ever re-tokenizing history.
  *
  * Both ledgers live on the MVCC versioned store's MERGE-ON-READ write
  * path (round-16 — the write-side asymptote fix): a batch lands as
  * per-bucket DELTA generations via [[VersionedStore.deltaUpsert]], so
  * bytes WRITTEN per micro-batch ≈ batch bytes however large the
  * vocabulary grows — the previous swap-store upsert re-read and
  * REWROTE every touched bucket wholesale, a per-batch write cost that
  * grew with the corpus (round-15 verdict #1). Chain length is bounded
  * by [[MaxDeltas]] via [[VersionedStore.compactIfNeeded]] — an
  * explicit compaction POLICY (the Hudi knob), metadata-only on the
  * batches below the threshold, and `maintain()` exposes it for
  * deployments that schedule compaction off the landing path entirely.
  *
  * Counts are NOT keyed-idempotent — replaying a batch would double
  * them — so exactly-once needs more than keyed replace. The MVCC
  * store's ATOMIC tagged commits carry it (the [[EpochStream]] fence):
  *
  *  1. **Tagged commits.** Each ledger's per-epoch commit is stamped
  *     with the micro-batch id (`e<epoch>`, stable across checkpoint
  *     replays); a replayed batch probes [[VersionedStore.taggedEpoch]]
  *     and SKIPS a ledger whose tag is already committed. A commit is
  *     atomic (marker-fenced), so "partially applied counts" cannot
  *     exist — a crashed attempt's un-committed generations are
  *     invisible to every read.
  *  2. **Epoch-filtered novelty.** The landed-ids ledger stores each
  *     document's landing epoch, and a batch treats as novel every id
  *     absent from {ids with epoch < current}: ids the CRASHED attempt
  *     landed (epoch == current) still count as novel on replay — the
  *     same delta recomputes against the same pre-batch counts (the
  *     counts commit either happened atomically or not at all), and
  *     rule 1 skips the re-commit — while queue REDELIVERY in a later
  *     epoch sees epoch < current and contributes nothing (no commit,
  *     no epoch, no tag).
  *
  * Either store may crash mid-commit in any order and the replay
  * converges byte-for-byte (LmStreamSpec drives the crash matrix and
  * kill/resume against the one-shot corpus counts).
  *
  * Scale shape: per batch, O(batch grams) map-side-combined counting,
  * a bucket-pruned in-pushed [[VersionedStore.lookup]] of each ledger
  * (opens f(batch-key buckets × chain length ≤ MaxDeltas+1), never
  * f(ledger) — LedgerProbeSpec pins opens AND written bytes flat under
  * a 10× ledger), and two O(batch) delta commits. History text is
  * never re-tokenized; nothing vocabulary-sized is ever rewritten on
  * the serving path.
  *
  * `nBuckets` sets ledger geometry AT CREATION (existing stores keep
  * their marker): more buckets = finer probe pruning per batch but
  * more generation dirs per commit — size it so a bucket is a few row
  * groups at the target corpus.
  */
final case class LmStream(id: String, text: Column, n: Int,
                          nBuckets: Int = 8) {

  private def countsDir(root: String) = s"$root/lm_counts"
  private def docsDir(root: String) = s"$root/lm_docs"

  /** Delta-chain length that triggers compaction of a bucket
    * ([[VersionedStore.compactIfNeeded]]): bounds per-batch probe
    * opens at ~MaxDeltas+1 files per touched bucket; raising it trades
    * probe fan-in for less-frequent compaction work. */
  private val MaxDeltas = 8

  /** One-time ledger bootstrap from the already-ingested corpus
    * (epoch −1: strictly before every stream batch). COW upserts: the
    * bootstrap is bulk, so full bloom'd key-clustered base generations
    * are the right layout for every later probe. */
  def bootstrap(oldDocs: DataFrame, root: String): Unit =
    // independent stores; see processBatch for the concurrency note
    StreamSessions.inParallel(
      () => VersionedStore.upsert(
        CorpusSignals.lmRawCounts(oldDocs, text, n)
          .withColumn("last_epoch", lit(-1L)),
        Seq("context", "word"), countsDir(root), nBuckets = nBuckets),
      () => VersionedStore.upsert(
        oldDocs.select(col(id)).distinct().withColumn("epoch", lit(-1L)),
        Seq(id), docsDir(root), nBuckets = nBuckets))

  /** Read a ledger store that may legitimately be EMPTY — a bootstrap
    * over a corpus with no n-gram (every doc shorter than n tokens, or
    * no old corpus at all) writes the store markers but commits no
    * epoch, and the stream must start from an empty ledger, not
    * crash. */
  private def readLedger(spark: SparkSession, dir: String,
                         emptySchema: StructType): DataFrame =
    if (VersionedStore.currentEpoch(dir) == 0L)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else VersionedStore.read(spark, dir)

  /** The ledger rows that can match `keys` — the BOUNDED per-batch
    * probe ([[VersionedStore.probeForKeys]]): opens only the chains of
    * the buckets the batch keys hash into (one Spark job over the
    * keys — never a driver collect of a 100k-gram batch), with a
    * literal key push when the probe is small. SUPERSET contract: the
    * callers below apply their own exact semi/anti joins on top, so
    * pruning only skips I/O, never changes a result. */
  private def probeLedger(spark: SparkSession, dir: String, keys: DataFrame,
                          emptySchema: StructType): (DataFrame, Boolean) =
    if (VersionedStore.currentEpoch(dir) == 0L)
      (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema),
        true)
    else VersionedStore.probeForKeysWithExactness(spark, dir, keys)

  /** Land one batch at `epoch`. Public so the crash-matrix spec can
    * drive replays and redeliveries without a stream.
    *
    * Job shape (same rationale as [[TrainStream]]): AQE off for the
    * step — every frame is batch-sized or a bucket-pruned probe, so
    * runtime re-planning only adds a stage-job per materialization;
    * the two delta commits land with `keysUnique = true` (both frames
    * are aggregation/distinct outputs on their key columns), so the
    * staging write is each ledger's SINGLE action — no validation
    * aggregation, no caller-side checkpoint; an empty batch is
    * detected from the staged output inside deltaUpsert (nothing
    * commits), and MOR commits never mutate the files a concurrent
    * plan reads. */
  def processBatch(landed: DataFrame, epoch: Long, root: String): Unit = {
    // AQE off and micro-batch shuffle sizing on a session clone (the
    // only remaining shuffle in the step is the batch-gram count); the
    // caller's session is never touched
    val batch = StreamSessions.step(landed)
    val spark = batch.sparkSession
    val tag = s"e$epoch"
    // rule 1: a ledger whose tag is already committed is SKIPPED on
    // replay — probe both fences first (metadata-only) so a full
    // replay of a completed epoch costs zero jobs
    val countsDone = VersionedStore.taggedEpoch(countsDir(root), tag).isDefined
    val docsDone = VersionedStore.taggedEpoch(docsDir(root), tag).isDefined
    if (countsDone && docsDone) return
    // empty-ledger schemas derive from the BATCH (the id's type is the
    // caller's, not assumed)
    val docsSchema = StructType(Seq(
      batch.schema(id),
      org.apache.spark.sql.types.StructField("epoch",
        org.apache.spark.sql.types.LongType)))
    // rule 2 — NOVELTY, bounded at any ledger size: the bucket-pruned
    // probe streams MAP-SIDE through a semi-join against the broadcast
    // batch ids (batch-sized by contract), the epoch filter drops the
    // current epoch's own crashed-attempt rows, and the batch
    // anti-joins the batch-sized hit set — zero Exchange, opens
    // f(batch buckets × chain).
    // docs ledger is APPEND-ONLY (an id lands in exactly one committed
    // epoch), so the probe skips newest-wins resolution — a plain
    // pruned scan, no per-batch window shuffle
    val (prior, priorExact) = StreamSessions.labeled(spark,
        s"lm e$epoch: docs novelty probe") {
      if (VersionedStore.currentEpoch(docsDir(root)) == 0L)
        probeLedger(spark, docsDir(root), batch.select(col(id)), docsSchema)
      else VersionedStore.probeForKeysWithExactness(spark, docsDir(root),
        batch.select(col(id)), resolveMor = false)
    }
    val landedPrior = prior.filter(col("epoch") < epoch).select(col(id))
    // an EXACT probe already holds only batch ids — anti-join direct
    val landedHit =
      if (priorExact) landedPrior
      else landedPrior
        .join(broadcast(batch.select(col(id))), Seq(id), "left_semi")
    val novel = batch.join(broadcast(landedHit), Seq(id), "left_anti")
    // one materialization of the batch grams (the count aggregation is
    // the step's only shuffle — inherently so); the merge below reuses
    // it as a broadcast build side
    val rawB = StreamSessions.labeled(spark, s"lm e$epoch: batch grams") {
      CorpusSignals.lmRawCounts(novel, text, n)
        .withColumnRenamed("cnt_gram", "_cnt_b").localCheckpoint()
    }
    // the batch grams' CURRENT totals, bucket-pruned and key-pushed —
    // per-batch count-ledger read I/O is f(batch grams), never
    // f(vocabulary). Atomic commits mean these are always the exact
    // pre-batch values on a replay that reaches this point (a
    // committed attempt was already skipped by the tag fence).
    val merged =
      if (countsDone) null
      else {
        // touched rows only, same decomposition as the novelty join:
        // the bucket-pruned ledger probe streams map-side against the
        // broadcast batch grams; the batch-sized hit set broadcasts
        // back into the left join. Atomic commits mean these are
        // always the exact pre-batch totals on a replay that reaches
        // this point (a committed attempt was skipped by the tag).
        val (curProbe, curExact) = StreamSessions.labeled(spark,
            s"lm e$epoch: counts probe") {
          probeLedger(spark, countsDir(root),
            rawB.select("context", "word"), CountsSchema)
        }
        val curHit =
          if (curExact) curProbe
          else curProbe.join(broadcast(rawB.select("context", "word")),
            Seq("context", "word"), "left_semi")
        val cur = curHit.select(col("context"), col("word"),
          col("cnt_gram").as("_cnt_cur"))
        rawB.join(broadcast(cur), Seq("context", "word"), "left")
          .select(col("context"), col("word"),
            (coalesce(col("_cnt_cur"), lit(0L)) + col("_cnt_b"))
              .as("cnt_gram"),
            lit(epoch).as("last_epoch"))
      }
    val docsDelta =
      if (docsDone) null
      else novel.select(col(id)).distinct()
        .withColumn("epoch", lit(epoch))
    // the two ledgers are INDEPENDENT stores — land them concurrently:
    // the per-commit fixed cost overlaps instead of summing (round-14
    // profile). Crash-safety is unchanged — the replay matrix covers
    // either store failing first, in any order; an EMPTY delta commits
    // nothing (no epoch, no tag), which is exactly right for a
    // later-epoch redelivery. Neither frame is pre-materialized or
    // isEmpty-gated any more (round-16): keysUnique (both are
    // aggregation/distinct outputs on their key columns) lets the
    // staging write be the ONE action per ledger — deltaUpsert itself
    // detects the empty batch from the staged output and commits
    // nothing, and MOR writes never touch the existing files the
    // frames' own probe plans read.
    StreamSessions.inParallel(
      () => if (merged != null)
        StreamSessions.labeled(spark, s"lm e$epoch: counts delta land") {
          VersionedStore.deltaUpsert(merged, Seq("context", "word"),
            countsDir(root), nBuckets = nBuckets, tag = tag,
            keysUnique = true)
        },
      () => if (docsDelta != null)
        StreamSessions.labeled(spark, s"lm e$epoch: docs delta land") {
          VersionedStore.deltaUpsert(docsDelta, Seq(id), docsDir(root),
            nBuckets = nBuckets, tag = tag, keysUnique = true)
        })
    // compaction POLICY, not per-batch work: metadata-only below the
    // threshold; every ~MaxDeltas epochs it folds a bucket's chain
    // back to one bloom'd base (bounding probe opens). Batches are
    // serialized per stream, so the inline call never races a write.
    StreamSessions.labeled(spark, s"lm e$epoch: compaction policy") {
      maintain(spark, root)
    }
  }

  /** Fold over-long delta chains back to single base generations
    * ([[VersionedStore.compactIfNeeded]] on both ledgers) — the
    * maintenance half of the MOR trade. Called inline after every
    * batch (cheap below the threshold); a deployment that wants the
    * landing path strictly O(batch) can instead schedule this from
    * its own maintenance window — compaction is a content no-op, and
    * the store's OCC fence serializes it against writers. */
  def maintain(spark: SparkSession, root: String): Unit = {
    if (VersionedStore.currentEpoch(countsDir(root)) > 0L)
      VersionedStore.compactIfNeeded(spark, countsDir(root), MaxDeltas)
    if (VersionedStore.currentEpoch(docsDir(root)) > 0L)
      VersionedStore.compactIfNeeded(spark, docsDir(root), MaxDeltas)
  }

  /** The live raw-count ledger (context, word, cnt_gram) — feed it to
    * [[CorpusSignals.lmCountsFromRaw]] for probabilities or to
    * [[CorpusSignals.lmCrossEntropy]] for the quality gate. */
  private val CountsSchema = StructType.fromDDL(
    "context STRING, word STRING, cnt_gram BIGINT, last_epoch BIGINT")

  def counts(spark: SparkSession, root: String): DataFrame =
    readLedger(spark, countsDir(root), CountsSchema)
      .select(col("context"), col("word"), col("cnt_gram"))

  /** Start the landing-queue consumer: one micro-batch per landing
    * file, checkpointed (`ckpt_lm` — stream-specific, so this
    * maintainer shares a root with the others; the combined behavior
    * is MaintainerMatrixSpec's contract family). */
  def start(spark: SparkSession, landingDir: String, schema: StructType,
            root: String): StreamingQuery =
    StreamSessions.microBatch(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt_lm")
      .foreachBatch { (b: DataFrame, e: Long) => processBatch(b, e, root) }
      .start()
}
