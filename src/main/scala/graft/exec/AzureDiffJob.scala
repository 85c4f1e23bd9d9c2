package graft.exec

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.ops.{Dedup, EventJson, TaskFanout}
import graft.sinks.Sinks

/** Module-I pipeline (AzureTaskProducer, SURVEY §2.1 S6 / §2.2 P8 /
  * §2.7 F9-F10 / §2.3 J2-J3 / §2.8 K1): inventory-diff CSV → variance
  * dispatch → Event-Grid event rendering → idempotent dedup against the
  * sent-message ledger → batched queue messages.
  *
  * Mirrors diff_azure_inventory_sqs.py / largeInventoryDiffToSQS.py as
  * one declarative job: the chunk-file splitting and 30-process pool
  * collapse into Spark partitions, and the DynamoDB ledger becomes a
  * parquet ledger table probed with a left-anti join (broadcast when
  * small).
  */
object AzureDiffJob {

  case class Result(rows: Long, badLength: Long, enqueued: Long, skipped: Long)

  /** FIXTURES A4 closure: produce the wire-format diff FROM two A3
    * inventory snapshots with the engine's own full-outer join (J1) —
    * the reference consumes diff files computed by an external tool;
    * here the differ and the consumer are the same engine, keyed on
    * blob Name, comparing (Etag, Content-Length, Last-Modified). */
  def diffSnapshots(old: DataFrame, curr: DataFrame,
                    storageAccount: String): DataFrame = {
    val cmp = Seq("Etag", "Content-Length", "Last-Modified")
    val base = graft.ops.InventoryDiff(
      old.select(("Name" +: cmp).map(col): _*),
      curr.select(("Name" +: cmp).map(col): _*),
      "Name", compareCols = cmp)
    // Creation-Time is carried, not compared — join it back per side
    base
      .join(curr.select(col("Name"), col("Creation-Time").as("_ct_new")), Seq("Name"), "left")
      .join(old.select(col("Name"), col("Creation-Time").as("_ct_old")), Seq("Name"), "left")
      .select(
        lit(storageAccount).as("Storage-Account"),
        col("Name"),
        coalesce(col("_ct_new"), col("_ct_old")).as("Creation-Time"),
        coalesce(col("new_Last-Modified"), col("old_Last-Modified")).as("Last-Modified"),
        coalesce(col("new_Etag"), col("old_Etag")).as("Etag"),
        coalesce(col("new_Content-Length"), col("old_Content-Length")).as("Content-Length"),
        col("variance").as("Variance"))
  }

  /** @param diffGlob   A4-schema CSV(s): Storage-Account, Name,
    *                   Creation-Time, Last-Modified, Etag,
    *                   Content-Length, Variance ∈ {New,Update,Delete}
    *                   (mixed case on the wire)
    * @param ledgerDir  parquet ledger of sent msg_ids (created on first run)
    * @param queueDir   output message JSON dir */
  def run(spark: SparkSession, diffGlob: String, ledgerDir: String,
          queueDir: String, queues: Int = 4, batchSize: Int = 10): Result =
    runWithDiff(spark, spark.read.option("header", "true").csv(diffGlob),
      ledgerDir, queueDir, queues, batchSize)

  /** DataFrame-input variant: chain [[diffSnapshots]] straight into the
    * event pipeline without a wire round-trip. */
  def runWithDiff(spark: SparkSession, raw: DataFrame, ledgerDir: String,
                  queueDir: String, queues: Int = 4, batchSize: Int = 10): Result = {

    // F13 null-on-garbage length; P8 variance dispatch (upper-cased,
    // largeInventoryDiffToSQS.py:115-118); F10 endpoint synth
    val typed = raw
      .withColumn("size", Fns.safeLong(col("Content-Length")))
      .withColumn("event_type",
        when(upper(col("Variance")) === "DELETE", lit("Microsoft.Storage.BlobDeleted"))
          .otherwise(lit("Microsoft.Storage.BlobCreated")))
      .cache()
    // one agg pass for both control-flow scalars (was two counts)
    val tot = typed.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(when(col("size").isNull && col("Content-Length").isNotNull, 1L)
        .otherwise(0L)), lit(0L)).as("bad")).first()
    val totalRows = tot.getLong(0)
    val badLength = tot.getLong(1)

    val events = EventJson.withEvent(
      typed, col("Storage-Account"), col("Name"), col("size"),
      col("Etag"), col("event_type"),
      Fns.isoUtc(to_timestamp(col("Last-Modified"))))
      .withColumn("msg_id", col("event.id"))

    // J2: probe the sent ledger, skip already-sent events. The probe
    // goes through the ledger's own Hadoop filesystem: a java.nio probe
    // reads a `file:`/`s3a:` root as absent and re-enqueues everything
    val ledgerSuccess = new org.apache.hadoop.fs.Path(ledgerDir, "_SUCCESS")
    val ledgerExists = ledgerSuccess
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ledgerSuccess)
    val fresh =
      if (ledgerExists)
        Dedup.antiJoin(events, spark.read.parquet(ledgerDir), Seq("msg_id"))
      else events
    val freshC = fresh.cache()
    try {
      // K1: ≤batchSize events per message, hash-routed across queues;
      // the write observes how many events it enqueued, so no count
      // job runs before it and an empty diff lands no file
      val sent = Sinks.appendFiles(
        TaskFanout.pack(
          freshC.select(col("msg_id"), col("event_json")),
          abs(hash(col("msg_id")).cast("bigint")), Seq(col("msg_id")),
          queues, batchSize),
        queueDir, "json", sum(col("n_objects")).as("events"))
      val enqueued = sent("events")
      // record the batch in the ledger AFTER the send
      // (inventory_lib.py:179-191)
      if (enqueued > 0)
        freshC.select("msg_id")
          .write.mode(SaveMode.Append).parquet(ledgerDir)
      Result(totalRows, badLength, enqueued, totalRows - enqueued)
    } finally { typed.unpersist(); freshC.unpersist(); () }
  }
}
