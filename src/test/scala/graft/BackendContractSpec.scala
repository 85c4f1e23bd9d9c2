package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.connectors.{FileQueue, KeyedStore, ParquetQueue, QueueSource,
  VersionedKeyedStore}

/** docs/BACKENDS.md as an EXECUTED contract: the same suite runs over
  * BOTH shipped implementations of each connector seam — the
  * JSON-landing FileQueue vs the parquet ParquetQueue, and the
  * swap-by-rename ParquetStore vs the MVCC VersionedKeyedStore. A
  * production SQS/Kafka source or DynamoDB/Delta MERGE store is the
  * third implementation of the same methods; these tests are exactly
  * what it must pass. */
class BackendContractSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------- KeyedStore

  private def keyedStoreContract(name: String,
                                 mk: String => KeyedStore): Unit = {
    test(s"KeyedStore[$name]: empty read, key replace, batch idempotence") {
      val store = mk(tmpDir(s"ks_$name") + "/store")
      // 1. before the first upsert there is nothing to read
      assert(store.read(spark).isEmpty)
      // 2. first batch serves back exactly
      store.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
      def state(): Seq[(Long, String)] =
        store.read(spark).get.as[(Long, String)].collect().toSeq.sorted
      assert(state() == Seq((1L, "a"), (2L, "b")))
      // 3. same-key rows REPLACE, new keys append — never duplicate
      store.upsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
      assert(state() == Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // 4. re-upserting a batch is idempotent (the at-least-once
      // delivery downstream requires it)
      store.upsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
      assert(state() == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    }
  }

  keyedStoreContract("parquet-swap", d => graft.connectors.ParquetStore(d))
  keyedStoreContract("versioned-mvcc", d => VersionedKeyedStore(d))

  // ----------------------------------------------------- QueueSource

  private val msgSchema = StructType.fromDDL("id BIGINT, body STRING")

  private def drain(q: QueueSource, ckpt: String, out: String): Unit = {
    val sq = q.readStream(spark).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        if (!df.isEmpty)
          df.write.mode("append").parquet(out)
        ()
      }.start()
    try sq.processAllAvailable() finally sq.stop()
  }

  private def queueContract(name: String,
                            mk: String => QueueSource): Unit = {
    test(s"QueueSource[$name]: empty enqueue no-op, all messages delivered") {
      val root = tmpDir(s"q_$name")
      val q = mk(s"$root/queue")
      // an empty enqueue must leave NO trace — an empty landing file
      // would feed the stream a phantom batch forever
      q.enqueue(Seq.empty[(Long, String)].toDF("id", "body"))
      q.enqueue(Seq((1L, "m1"), (2L, "m2")).toDF("id", "body"))
      drain(q, s"$root/ckpt", s"$root/out")
      def got(): Seq[(Long, String)] = {
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/out")))
          Seq.empty
        else spark.read.schema(msgSchema).parquet(s"$root/out")
          .as[(Long, String)].collect().toSeq.sorted
      }
      assert(got() == Seq((1L, "m1"), (2L, "m2")))
      // messages enqueued later are picked up by a RESUMED consumer
      // (checkpointed offsets), exactly once per landing in this
      // crash-free run — redelivery tolerance is the consumer's job
      q.enqueue(Seq((3L, "m3")).toDF("id", "body"))
      drain(q, s"$root/ckpt", s"$root/out")
      assert(got() == Seq((1L, "m1"), (2L, "m2"), (3L, "m3")))
    }

    test(s"QueueSource[$name]: enqueue lands part files only, a failed one nothing") {
      val root = tmpDir(s"qland_$name")
      val q = mk(s"$root/queue")
      def entries(): Seq[String] =
        new java.io.File(s"$root/queue").list().toSeq.sorted
      q.enqueue(Seq((1L, "m1"), (2L, "m2")).toDF("id", "body"))
      val landed = entries()
      // part files and their checksum sidecars: no staging dir, no marker
      assert(landed.nonEmpty && landed.forall(n => n.startsWith("part-") ||
        (n.startsWith(".part-") && n.endsWith(".crc"))), landed)
      // a write job whose task throws after writing a row lands nothing
      val failing = spark.range(3, 5).select(col("id"),
        when(col("id") === 4L, raise_error(lit("injected task failure")))
          .otherwise(concat(lit("m"), col("id"))).as("body"))
      val e = intercept[Exception](q.enqueue(failing))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected task failure")))
      assert(entries() == landed)
      drain(q, s"$root/ckpt", s"$root/out")
      assert(spark.read.schema(msgSchema).parquet(s"$root/out")
        .as[(Long, String)].collect().toSeq.sorted == Seq((1L, "m1"), (2L, "m2")))
    }
  }

  queueContract("json-file", d => FileQueue(d, msgSchema))
  queueContract("parquet-file", d => ParquetQueue(d, msgSchema))
}
