package graft.connectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Connector boundaries: the pipelines talk to a message queue and a
  * keyed store through these traits ONLY, so a production deployment
  * swaps in SQS/Kinesis and DynamoDB (or Kafka and Delta/Iceberg)
  * implementations without touching pipeline code. The file-backed
  * stand-ins below are what this zero-egress environment runs — and
  * the PipelineSpec suites exercise the pipelines THROUGH the traits,
  * so the swap-in claim is compile-checked, not aspirational.
  *
  * Reference boundary: libs/sqs_utils.py (send/receive/delete + DLQ
  * redrive) and TaskMonitor/ddbModel.py (keyed put/get of stat rows).
  */
trait QueueSource {

  /** Unbounded message stream (T1); implementations bound per-trigger
    * intake for backpressure (T6). */
  def readStream(spark: SparkSession): DataFrame

  /** Append messages (producer send / failure redrive). Must tolerate
    * empty input with no side effects. */
  def enqueue(messages: DataFrame): Unit
}

/** SQS stand-in: a directory of JSON message files consumed by the
  * Structured Streaming file source. `maxFilesPerTrigger` is the T6
  * backpressure bound (SQS's max-batch analogue). */
final case class FileQueue(dir: String, schema: StructType,
                           maxFilesPerTrigger: Int = 16) extends QueueSource {

  def readStream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** One write job, landed by rename out of a hidden staging dir
    * ([[graft.sinks.Sinks.appendFiles]]): an empty append lands no
    * file, so no emptiness probe runs first. */
  def enqueue(messages: DataFrame): Unit = {
    graft.sinks.Sinks.appendFiles(messages.coalesce(1), dir, "json")
    ()
  }
}

/** A SECOND QueueSource implementation — parquet-serialized landing
  * files instead of JSON. Exists to make the swap-in contract an
  * EXECUTED promise rather than prose: `BackendContractSpec` runs the
  * same contract suite over both queue backends, and the q44 executor
  * pipeline runs unmodified on either (q221). A production Kafka/SQS
  * source is the third implementation of the same two methods. */
final case class ParquetQueue(dir: String, schema: StructType,
                              maxFilesPerTrigger: Int = 16)
    extends QueueSource {

  def readStream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Lands like [[FileQueue.enqueue]], as parquet. */
  def enqueue(messages: DataFrame): Unit = {
    graft.sinks.Sinks.appendFiles(messages.coalesce(1), dir, "parquet")
    ()
  }
}

/** Keyed upsert store (K4/J5): new rows REPLACE rows with the same key;
  * batch-idempotent. */
trait KeyedStore {
  def upsert(batch: DataFrame, keyCols: Seq[String]): Unit

  /** The current store contents, or None before the first upsert.
    * The returned frame is a snapshot VIEW: consume it (collect/write)
    * before the next upsert — implementations may replace the backing
    * storage generation on upsert, invalidating deferred scans. */
  def read(spark: SparkSession): Option[DataFrame]
}

/** DynamoDB-stat-table stand-in: the crash-safe swap-by-rename parquet
  * store ([[graft.sinks.Sinks.upsertParquet]]). A cluster deployment
  * implements this trait as a Delta/Iceberg MERGE — same key-replace
  * contract, transactional log instead of the rename dance. */
final case class ParquetStore(dir: String) extends KeyedStore {

  def upsert(batch: DataFrame, keyCols: Seq[String]): Unit =
    graft.sinks.Sinks.upsertParquet(batch, keyCols, dir)

  /** `_SUCCESS` is probed through the store's own Hadoop filesystem,
    * as [[graft.sinks.Sinks.upsertParquet]] writes it, so a
    * scheme-qualified root (`file:`, `s3a://`) reads back too. */
  def read(spark: SparkSession): Option[DataFrame] = {
    graft.sinks.Sinks.recoverStore(dir)
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(success))
      Some(spark.read.parquet(dir))
    else None
  }
}

/** A SECOND KeyedStore implementation — the MVCC
  * [[graft.sinks.VersionedStore]] behind the same trait: a genuinely
  * different storage engine (epoch log + immutable generations vs
  * swap-by-rename), same key-replace contract. What the swap buys for
  * free is everything the trait doesn't promise: time travel, CDC and
  * retention on the stat table. `BackendContractSpec` runs the shared
  * contract suite over both; the Delta/Iceberg MERGE a cluster
  * deployment would use is the third implementation. */
final case class VersionedKeyedStore(dir: String) extends KeyedStore {

  def upsert(batch: DataFrame, keyCols: Seq[String]): Unit = {
    graft.sinks.VersionedStore.upsert(batch, keyCols, dir)
    ()
  }

  def read(spark: SparkSession): Option[DataFrame] =
    graft.sinks.VersionedStore.readCurrent(spark, dir)
}
