package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.TimeBucketStats

/** Module-II/III streaming pipeline (SURVEY.md §2.9, T1–T4):
  * queue consume → copy → per-object status log → DLQ after 3 receives,
  * plus the incremental monitor→stat aggregation.
  *
  * The queue is a directory of JSON message files (the SQS stand-in;
  * a production deployment swaps in a queue connector with the same
  * message schema). Structured Streaming's file source gives the
  * unbounded consume loop (T1); checkpointed offsets + idempotent
  * writes give at-least-once with effectively-once logging (T2);
  * `receive_count` + re-enqueue mirrors SQS redrive semantics (T3,
  * maxReceiveCount=3 at libs/sqs_utils.py:111-114).
  */
object TaskPipeline {

  /** One queue message: a batch of object-copy actions (ListProducer
    * packs ≤100 per message) plus queue metadata. */
  val messageSchema: StructType = StructType(Seq(
    StructField("queue", IntegerType),
    StructField("batch_id", LongType),
    StructField("receive_count", IntegerType),
    StructField("body", StringType)))

  /** A single copy action inside a message body (A1 row + dst_bucket). */
  val actionSchema: StructType = StructType(Seq(
    StructField("Bucket", StringType),
    StructField("Key", StringType),
    StructField("Size", LongType),
    StructField("ETag", StringType),
    StructField("dst_bucket", StringType)))

  /** Unpack message bodies into per-object actions (§2.10(5)). */
  def unpack(messages: DataFrame): DataFrame =
    messages
      .withColumn("receive_count", coalesce(col("receive_count"), lit(1)))
      .withColumn("action", explode(from_json(col("body"), ArrayType(actionSchema))))
      .select(col("queue"), col("batch_id"), col("receive_count"), col("action.*"))

  /** K10 copy stub: executes the per-object "work". `failWhen` injects
    * deterministic failures for tests; a production build replaces the
    * body with the storage-connector copy call (same row-in/row-out
    * contract). */
  def executeCopy(actions: DataFrame, failWhen: org.apache.spark.sql.Column): DataFrame =
    actions.withColumn("ok", when(failWhen, lit(0)).otherwise(lit(1)))
      .withColumn("replication_time", col("Size") % 3600) // test-deterministic event time

  /** Run the executor: consume → copy → route.
    *  - ok rows        → append to `logDir` (monitor log, K3)
    *  - failed, <3 rx  → re-enqueued to `queueDir` with receive_count+1
    *  - failed, >=3 rx → `dlqDir` (K2 dead-letter)
    * All three writes happen in one foreachBatch so a batch is retried
    * or completed as a unit (the reference deletes the SQS message only
    * after the whole body is processed, TaskExecutor.py:51-98).
    *
    * A batch costs one write job per output and no probe job: the log
    * write observes how many of its rows are dead and how many are
    * retries, and the DLQ and the retry queue are written only when
    * they get rows. A batch with no failures is one job; one with both
    * kinds of failure is three (`TaskPipelineSpec` pins the counts).
    * Each batch's jobs carry the label `executor batch <id>`. */
  def runExecutor(spark: SparkSession, queueDir: String, logDir: String,
                  dlqDir: String, checkpoint: String,
                  failWhen: org.apache.spark.sql.Column): StreamingQuery =
    runExecutor(spark,
      graft.connectors.FileQueue(queueDir, messageSchema), logDir,
      graft.connectors.FileQueue(dlqDir, messageSchema), checkpoint, failWhen)

  /** Connector-trait variant: the queue and the DLQ are any
    * [[graft.connectors.QueueSource]] — a production build passes the
    * SQS implementations; everything below is connector-agnostic. */
  def runExecutor(spark: SparkSession, queue: graft.connectors.QueueSource,
                  logDir: String, dlq: graft.connectors.QueueSource,
                  checkpoint: String,
                  failWhen: org.apache.spark.sql.Column): StreamingQuery = {
    val actions = unpack(queue.readStream(StreamSessions.microBatch(spark)))
    executeCopy(actions, failWhen).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        StreamSessions.labeled(batch.sparkSession, s"executor batch $id") {
          val b = batch.cache()
          try {
            val failed = col("ok") === 0
            val dead = failed && col("receive_count") >= 3
            val retry = failed && col("receive_count") < 3
            // every ATTEMPT is logged with its 0/1 status — the monitor
            // table records failures too (docs/Schema.txt:55-59), which
            // is what feeds the stat table's Failed* columns
            val seen = graft.sinks.Sinks.appendFiles(b, logDir, "parquet",
              count(when(dead, true)).as("dead"), count(when(retry, true)).as("retry"))
            // re-pack per-action rows into MESSAGE shape before any
            // enqueue: both the DLQ and the retry queue must stay
            // consumable by unpack() (a DLQ holding raw action rows would
            // read back with body=null and a redrive would silently drop
            // every dead letter). Failures are few: packed in one
            // partition, the grouping needs no shuffle, so each enqueue
            // is a single one-task job
            def pack(actions: DataFrame): DataFrame = actions.coalesce(1)
              .groupBy(col("queue"), col("batch_id"), col("receive_count"))
              .agg(to_json(collect_list(
                struct(col("Bucket"), col("Key"), col("Size"), col("ETag"),
                  col("dst_bucket")))).as("body"))
            if (seen("dead") > 0)
              dlq.enqueue(pack(b.filter(dead)))
            // re-enqueue sub-3-receive failures, one message per (queue,batch)
            if (seen("retry") > 0)
              queue.enqueue(pack(b.filter(retry))
                .withColumn("receive_count", col("receive_count") + 1))
          } finally b.unpersist()
        }
        ()
      }
      .start()
  }

  /** The stats query's event-time bounds: 1-minute tumbling windows,
    * held open 10 minutes for late rows. */
  private val StatsWindowMinutes = 1
  private val StatsLatenessMinutes = 10

  /** State/shuffle partitions of a NEW stats checkpoint. The watermark
    * evicts each window once it closes more than the lateness behind the
    * newest event time, so at most lateness / width + 1 = 11 window rows
    * are ever live. One partition holds them; each further partition
    * would only add a fixed per-batch state-store load, delta file and
    * commit (8 partitions took ~half of every stats batch). */
  private[graft] val StatsStatePartitions = 1

  /** T4 — incremental monitor→stat aggregation: watermarked 1-minute
    * tumbling windows over the success/failure log, upserted per batch.
    * Late rows inside the watermark are aggregated correctly — the
    * documented semantic upgrade over the reference's flush-on-overflow
    * bucket loop (SURVEY T5). */
  def runStatsJob(spark: SparkSession, logDir: String, statDir: String,
                  checkpoint: String): StreamingQuery =
    runStatsJob(spark, logDir, graft.connectors.ParquetStore(statDir), checkpoint)

  /** Connector-trait variant: the stat table is any
    * [[graft.connectors.KeyedStore]] (DynamoDB/Delta in production).
    *
    * A new checkpoint plans its window state on
    * [[StatsStatePartitions]] (one) partition; a resumed checkpoint
    * keeps the count it was created with (older ones hold 8), with the
    * same stat rows either way.
    * Each batch is one state-store job and the store's upsert, under
    * the label `stats batch <id>`. */
  def runStatsJob(spark: SparkSession, logDir: String,
                  store: graft.connectors.KeyedStore,
                  checkpoint: String): StreamingQuery =
    runStatsJob(spark, logDir, store, checkpoint, StatsStatePartitions)

  /** [[runStatsJob]] with the state partition count of a new checkpoint
    * given (a spec builds a checkpoint at the former default with it). */
  private[graft] def runStatsJob(spark: SparkSession, logDir: String,
                                 store: graft.connectors.KeyedStore,
                                 checkpoint: String,
                                 partitions: Int): StreamingQuery = {
    val log = StreamSessions.microBatch(spark, partitions).readStream
      .schema(StructType(Seq(
        StructField("Key", StringType),
        StructField("Size", LongType),
        StructField("ok", IntegerType),
        StructField("replication_time", LongType))))
      .parquet(logDir)
      .withColumn("event_time", timestamp_seconds(col("replication_time")))
    log
      .withWatermark("event_time", s"$StatsLatenessMinutes minutes")
      .groupBy(window(col("event_time"), s"$StatsWindowMinutes minute"))
      .agg(
        sum(when(col("ok") === 1, col("Size")).otherwise(0L)).as("success_size"),
        sum(when(col("ok") === 1, 1L).otherwise(0L)).as("success_num"),
        sum(when(col("ok") === 0, col("Size")).otherwise(0L)).as("failed_size"),
        sum(when(col("ok") === 0, 1L).otherwise(0L)).as("failed_num"))
      .select(
        col("window.start").cast("long").as("start_time"),
        col("success_size"), col("success_num"),
        col("failed_size"), col("failed_num"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        StreamSessions.labeled(batch.sparkSession, s"stats batch $id") {
          store.upsert(batch, Seq("start_time"))
        }
      }
      .start()
  }

  /** A12 — queue-depth-style runtime metrics from the running query
    * (the reference polls get_queue_attributes, libs/sqs_utils.py:54-62;
    * Structured Streaming exposes the same signal as progress events). */
  def queueMetrics(q: StreamingQuery): Map[String, Double] =
    Option(q.lastProgress) match {
      case Some(p) => Map(
        "inputRowsPerSecond" -> p.inputRowsPerSecond,
        "processedRowsPerSecond" -> p.processedRowsPerSecond,
        "numInputRows" -> p.numInputRows.toDouble,
        "batchId" -> p.batchId.toDouble)
      case None => Map.empty
    }

  /** Batch-incremental variant of the stats job (A7): aggregate only
    * rows at/after the stat store's high watermark, then upsert.
    * The HWM predicate prunes date-partitioned logs at the scan.
    *
    * `start_time` is the minute-floored bucket start, so `>= hwm` keeps
    * the whole latest bucket and the upsert recomputes it in full; rows
    * arriving BELOW the HWM bucket are dropped by design (the batch
    * analogue of the streaming watermark — route older reprocessing
    * through a full rebuild instead). */
  def statsIncrement(spark: SparkSession, logDir: String, statDir: String): Unit =
    statsIncrement(spark, logDir, graft.connectors.ParquetStore(statDir))

  def statsIncrement(spark: SparkSession, logDir: String,
                     store: graft.connectors.KeyedStore): Unit = {
    // max() is null when the store exists but is empty (e.g. created by
    // an initial empty micro-batch upsert) — treat as "no watermark"
    val hwm: Long = store.read(spark)
      .flatMap(cur => Option(cur.agg(max("start_time")).first().get(0)))
      .map(_.asInstanceOf[Long])
      .getOrElse(Long.MinValue)
    val log = spark.read.parquet(logDir)
      .filter(col("replication_time") >= lit(hwm))
    val agg = TimeBucketStats.bucketize(
        log, col("replication_time"), col("ok"), col("Size"), 60)
      .drop("time_unit")
    store.upsert(agg, Seq("start_time"))
  }
}
