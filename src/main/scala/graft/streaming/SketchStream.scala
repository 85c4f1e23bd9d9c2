package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

import graft.ops.{Cardinality, CmSketch, ThetaSketch}
import graft.sinks.VersionedStore

/** Streaming sketch maintainers — the live faces of [[ThetaSketch]]
  * and [[CmSketch]], completing the maintainer family
  * (StreamDistinct↔HLL, FreqStream↔MG, HistStream↔log₂ histogram):
  * per-key keyed state folded per event, bounded regardless of stream
  * length (≤k longs for KMV; ≤d·w cells for CMS).
  *
  * Replay contract — STRONGER than FreqStream's: both folds are
  * order-INDEPENDENT. The KMV state is canonical ("k smallest
  * distinct hashes" does not depend on arrival order or batch
  * boundaries) and CMS cells are plain sums, so the streamed state
  * equals the batch sketch EXACTLY under every phase split, file
  * ordering, and kill-and-resume — SketchStreamSpec pins equality,
  * not just bounds. That matters operationally: the streamed KMV
  * ledger row can be merged with batch-built ledger rows
  * ([[ThetaSketch.mergeSketches]], q177) with no stream/batch seam.
  */
object SketchStream {

  case class KeyKmv(k: String, n_seen: Long, kmv: Array[Long])

  private type KmvState = (Long, Array[Long]) // (n_seen, bottom-k hashes)

  /** Per-key running KMV sketch over a (key, item) stream: after each
    * micro-batch, every key updated in that batch re-emits its current
    * ≤k-hash state (one row, the ledger-row shape). Run with output
    * mode Update; null items don't count (the batch rule). */
  def kmv(ds: Dataset[(String, String)], k: Int): Dataset[KeyKmv] = {
    require(k >= 2, "KMV sketch needs k >= 2")
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[KmvState, KeyKmv](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(func = {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[KmvState]) =>
          val hadState = state.exists
          val (n0, arr0) = state.getOption.getOrElse(
            (0L, Array.emptyLongArray))
          var arr = arr0
          var n = n0
          rows.foreach { case (_, item) =>
            if (item != null) {
              arr = ThetaSketch.insert(arr, Cardinality.hashLong(item), k)
              n += 1
            }
          }
          if (!hadState && n == 0) Iterator.empty
          else {
            state.update((n, arr))
            Iterator.single(KeyKmv(key, n, arr))
          }
      })(SketchEncoderHelp.kmvState, Encoders.product[KeyKmv])
  }

  case class KeyCell(k: String, d: Int, c: Int, cnt: Long)

  private type CmsState = Map[Int, Long] // packed d·width+c -> count

  /** Per-key running CMS grid over a (key, item) stream: after each
    * micro-batch, every key updated in that batch re-emits its FULL
    * current grid (≤ d·w cells — the model-row budget, like MG's ≤k
    * re-emission). Cells are exact sums, so the emitted grid equals
    * [[CmSketch.sketch]] over everything seen, bit-for-bit. */
  def cms(ds: Dataset[(String, String)], depth: Int,
          width: Int): Dataset[KeyCell] = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16]")
    require(width >= 2, s"width must be >= 2")
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[CmsState, KeyCell](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(func = {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[CmsState]) =>
          val hadState = state.exists
          var m = state.getOption.getOrElse(Map.empty[Int, Long])
          var touched = false
          rows.foreach { case (_, item) =>
            if (item != null) {
              touched = true
              var i = 0
              while (i < depth) {
                val packed = i * width + CmSketch.colOfLong(item, i, width)
                m = m.updated(packed, m.getOrElse(packed, 0L) + 1L)
                i += 1
              }
            }
          }
          if (!hadState && !touched) Iterator.empty
          else {
            state.update(m)
            m.iterator.map { case (packed, cnt) =>
              KeyCell(key, packed / width, packed % width, cnt)
            }
          }
      })(SketchEncoderHelp.cmsState, Encoders.product[KeyCell])
  }

  /** Phased-replay harness for [[kmv]]
    * ([[StreamSessions.replayLatest]]): land each phase as one
    * micro-batch, return the LATEST emission per key as
    * (k, n_seen, kmv). */
  def replayKmv(spark: SparkSession, phases: Seq[DataFrame],
                root: String, k: Int): DataFrame = {
    import spark.implicits._
    StreamSessions.replayLatest(spark, phases, root, "k STRING, v STRING") {
      in => kmv(in.as[(String, String)], k).toDF()
    }("k", "n_seen", "kmv")
  }

  /** Phased-replay harness for [[cms]]: land each phase as one
    * micro-batch, return the latest full grid per key as
    * (k, d, c, cnt). */
  def replayCms(spark: SparkSession, phases: Seq[DataFrame],
                root: String, depth: Int, width: Int): DataFrame = {
    import spark.implicits._
    StreamSessions.replayLatest(spark, phases, root, "k STRING, v STRING") {
      in => cms(in.as[(String, String)], depth, width).toDF()
    }("k", "d", "c", "cnt")
  }

  /** [[kmv]] maintained as an MVCC LEDGER: a checkpointed consumer of
    * `(k STRING, v STRING)` landing files whose every micro-batch
    * lands its re-emitted sketch rows as ONE tagged
    * [[VersionedStore]] epoch — [[EpochStream]]'s exactly-once fence,
    * so a crash-replayed batch is a no-op and the final ledger is
    * byte-identical to the uninterrupted run (SketchStreamSpec pins
    * kill/resume parity). The ledger inherits the store's whole
    * contract: snapshot isolation under the live writer, TIME TRAVEL
    * (the sketch fleet as of any batch — [[readKmvLedger]] with
    * `asOf`), CDC between any two epochs, retention vacuum. Every row
    * carries `k_param` so consumers can validate
    * [[ThetaSketch.setOps]]'s same-k contract at load instead of
    * trusting the caller. */
  def kmvToStore(spark: SparkSession, landingDir: String, k: Int,
                 storeRoot: String, nBuckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    kmv(StreamSessions.microBatch(spark).readStream.schema("k STRING, v STRING").parquet(landingDir)
        .as[(String, String)], k)
      .toDF()
      .withColumn("k_param", lit(k))
      .writeStream
      .option("checkpointLocation", s"$storeRoot/ckpt_kmv")
      .outputMode("update")
      .foreachBatch { (df: DataFrame, bid: Long) =>
        EpochStream(Seq("k"), nBuckets).processBatch(df, bid, storeRoot)
      }
      .start()
  }

  /** Read the versioned KMV ledger ([[kmvToStore]]'s store), current
    * or as of an epoch, VALIDATING that every sketch row was built
    * with this `k` — a smaller-k' row would silently skew any later
    * [[ThetaSketch.setOps]] estimate (its k-th-smallest threshold
    * argument no longer holds). The ledger is model-sized (one row
    * per key), so the validation scan is ledger-cost. */
  def readKmvLedger(spark: SparkSession, storeRoot: String, k: Int,
                    asOf: Option[Long] = None): DataFrame = {
    val df = asOf match {
      case Some(e) => VersionedStore.readAsOf(spark, storeRoot, e)
      case None => VersionedStore.read(spark, storeRoot)
    }
    val bad = df.filter(col("k_param") =!= k).count()
    require(bad == 0, s"KMV ledger at $storeRoot holds $bad rows built " +
      s"with a different k than $k — setOps estimates would silently skew")
    df.drop("k_param")
  }
}

/** Encoder helper (the FreqStream pattern: construct once, outside the
  * hot closure). */
private object SketchEncoderHelp {
  val kmvState: org.apache.spark.sql.Encoder[(Long, Array[Long])] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Long, Array[Long])]()
  val cmsState: org.apache.spark.sql.Encoder[Map[Int, Long]] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Map[Int, Long]]()
}
