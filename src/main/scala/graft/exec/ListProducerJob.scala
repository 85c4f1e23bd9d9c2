package graft.exec

import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{SizeHistogram, TaskFanout}
import graft.sinks.Sinks
import graft.sources.InventoryReader

/** Module-0 pipeline (SURVEY.md §3.1): gzip-CSV inventory scan →
  * cumulative size histogram + task fan-out → manifest enriched into
  * job.json → readback verify.
  *
  * The reference's single pass (ListProducer.py:131-163) is one
  * uncached scan feeding one write: the queue write is the only Spark
  * action. The corrupt-row count and the histogram are observed on the
  * scan, the message count on the packed messages, and job.json is
  * built, written and read back on the driver.
  */
object ListProducerJob {

  /** Reference bucket names ↔ byte thresholds (ListProducer.py:22,63-100
    * — labels say GB/TB, thresholds are 1000-based BYTES; cumulative;
    * objects >5e9 excluded from buckets but counted in totalObjects). */
  val BucketNames: Seq[(String, Long)] = Seq(
    "totalObjectsSub1GB" -> 1000000L,
    "totalObjectsSub5GB" -> 5000000L,
    "totalObjectsSub10GB" -> 10000000L,
    "totalObjectsSub50GB" -> 50000000L,
    "totalObjectsSub100GB" -> 100000000L,
    "totalObjectsSub1TB" -> 1000000000L,
    "totalObjectsSub5TB" -> 5000000000L)

  case class Result(totalObjects: Long, corruptRows: Long, messages: Long)

  /** Run the full pipeline.
    * @param manifestPath  manifest.json, one JSON object
    * @param inventoryGlob gzip CSV shards (the manifest's files[], already
    *                      staged locally — the S3 download of
    *                      s3_utils.py:89-104 is the storage layer's job)
    * @param jobJsonPath   output job.json
    * @param queueDir      output task-message JSON dir (the SQS stand-in)
    */
  def run(spark: SparkSession, manifestPath: String, inventoryGlob: String,
          jobJsonPath: String, queueDir: String, dstBucket: String,
          queues: Int = 4, batchSize: Int = 100): Result = {
    val manifest = Sinks.readJsonTree(manifestPath)
    require(manifest.isObject, s"$manifestPath: the manifest is not a JSON object")

    // observed BEFORE the good-row filter (the scan parses every row
    // whole, see readS3Inventory): the corrupt count and the histogram
    // over the good rows come from the one pass
    val scanned = Observation()
    val sent = Observation()
    val raw = InventoryReader.readS3Inventory(spark, inventoryGlob)
    val scanStats = count_if(col("_corrupt_record").isNotNull).as("corrupt") +:
      SizeHistogram.columns(col("Size"), BucketNames.map(_._2), InventoryReader.isGood)
    val inv = InventoryReader.goodRows(raw.observe(scanned, scanStats.head, scanStats.tail: _*))

    // task fan-out (≤batchSize objects per message, hash-routed across
    // queues — ListProducer.py:109-118 with deterministic routing)
    val tasks = inv
      .withColumn("dst_bucket", lit(dstBucket))
      .select("Bucket", "Key", "Size", "ETag", "IsMultipartUploaded", "dst_bucket")
    TaskFanout.pack(
        tasks, abs(hash(col("Key")).cast("bigint")), Seq(col("Key")), queues, batchSize)
      .observe(sent, count(lit(1)).as("messages"), sum(col("n_objects")).as("objects"))
      .write.mode(SaveMode.Overwrite).json(queueDir)
    // with no good row AQE drops the scan's stage from the final plan,
    // and its observation with it: one aggregate over the scan stands in
    val observedScan = Sinks.observed(scanned, s"the scan of $inventoryGlob")
    val scan =
      if (observedScan.nonEmpty) observedScan
      else Sinks.longs(raw.agg(scanStats.head, scanStats.tail: _*).first())
    val msgs = Sinks.observed(sent, s"the fan-out to $queueDir")
    val totalObjects = scan("total_objects")
    // a stage retry that counted the scan twice breaks this equality, as
    // does a lost message observation; fail rather than write wrong
    // statistics
    val objects = msgs.getOrElse("objects", 0L)
    require(objects == totalObjects,
      s"the fan-out carries $objects objects, the scan counted $totalObjects")

    // enrich manifest → job.json (ListProducer.py:148-157)
    val job = manifest.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val stats = job.putObject("statistics").put("totalObjects", totalObjects)
    BucketNames.foreach { case (name, t) => stats.put(name, scan(s"sub_$t")) }
    job.putObject("job_info")
      .put("src_type", "s3_inventory")
      .put("queue_url_prefix", queueDir)
      .put("queue_num", queues)
      .put("message_body_max_num", batchSize)
      .put("dst_bucket", dstBucket)
    Sinks.writeJsonTree(job, jobJsonPath)

    // readback verify (ListProducer.py:159-161)
    val back = Sinks.readJsonTree(jobJsonPath).path("statistics").path("totalObjects")
    require(back.canConvertToLong && back.asLong == totalObjects, "job.json readback mismatch")

    Result(totalObjects, scan("corrupt"), msgs.getOrElse("messages", 0L))
  }
}
