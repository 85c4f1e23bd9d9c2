package graft

import org.apache.spark.sql.functions._

import graft.exec.ListProducerJob
import graft.sources.InventoryReader
import graft.streaming.TaskPipeline

class InventoryReaderSpec extends SparkSpec {
  import spark.implicits._

  test("gzip CSV scan: quoted fields, decoded keys, corrupt-row quarantine") {
    val dir = tmpDir("inv")
    TestFixtures.writeS3InventoryGz(dir, "shard-0",
      TestFixtures.defaultInventoryRows,
      malformedLines = Seq("\"too\",\"short\",\"row\""))
    val raw = InventoryReader.readS3Inventory(spark, s"$dir/*.csv.gz").cache()
    val good = InventoryReader.goodRows(raw)
    assert(good.count() == 7)
    assert(InventoryReader.corruptRows(raw).count() == 1)
    // F1: '+' means space, %20 decodes, both in one key
    val k = good.filter($"Key".contains("space"))
      .select("Key").as[String].head()
    assert(k == "space and plus.bin")
    // P13 coercions survived the scan
    val mp = good.filter($"Key" === "just-over-5mb.bin")
      .select("IsMultipartUploaded").as[Boolean].head()
    assert(mp)
    val repl = good.filter($"Key" === "at-5mb.bin")
      .select("Replicated").as[Int].head()
    assert(repl == 1)
  }

  test("a short row is corrupt to an aggregate over the raw scan only when parsed whole") {
    val dir = tmpDir("inv_short")
    TestFixtures.writeS3InventoryGz(dir, "shard-0",
      TestFixtures.defaultInventoryRows,
      malformedLines = Seq("\"too\",\"short\",\"row\""))
    val glob = s"$dir/*.csv.gz"
    def split(raw: org.apache.spark.sql.DataFrame) =
      raw.agg(count_if($"_corrupt_record".isNotNull), count_if(InventoryReader.isGood))
        .as[(Long, Long)].head()
    // every scan is parsed whole: an aggregate that reads only Key
    // still flags the short row (a column-pruned scan read (0, 8))
    assert(split(InventoryReader.readS3Inventory(spark, glob)) == ((1L, 7L)))
    // and so does a query reading every column
    assert(InventoryReader.goodRows(InventoryReader.readS3Inventory(spark, glob))
      .collect().length == 7)
  }

  test("azure inventory: garbage Content-Length quarantines to null (F13)") {
    val dir = tmpDir("az")
    TestFixtures.writeAzureInventoryCsv(dir, "azinv")
    val az = InventoryReader.readAzureInventory(spark, s"$dir/azinv.csv")
    val lens = az.orderBy("Name").select("Content-Length")
      .collect().map(r => Option(r.get(0))).toSeq
    assert(lens == Seq(Some(123456L), None, Some(999L)))
  }

  test("manifest scan + files[] explode") {
    val dir = tmpDir("man")
    val p = TestFixtures.writeManifest(dir, Seq(
      ("inv/data-1.csv.gz", 1234L, "aaa"), ("inv/data-2.csv.gz", 567L, "bbb")))
    val m = InventoryReader.readManifest(spark, p)
    assert(m.select("sourceBucket").as[String].head() == "srcb")
    val files = InventoryReader.manifestFiles(m)
    assert(files.count() == 2)
    assert(files.agg(sum("size")).as[Long].head() == 1801L)
  }
}

class ListProducerJobSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** Spark jobs of one run: the fan-out write's shuffle map stage and
    * its result stage. Nothing else runs a job. */
  private val RunJobs = 2

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def tree(path: String) = mapper.readTree(new java.io.File(path))
  private def keys(node: com.fasterxml.jackson.databind.JsonNode) =
    node.fieldNames().asScala.toSeq

  /** Two shards under `root`/inventory (7 good rows and one short
    * malformed row, then 2 good rows) and their manifest. */
  private def fixture(root: String): String = {
    val invDir = s"$root/inventory"
    TestFixtures.writeS3InventoryGz(invDir, "shard-0",
      TestFixtures.defaultInventoryRows,
      malformedLines = Seq("\"bad\",\"row\""))
    TestFixtures.writeS3InventoryGz(invDir, "shard-1",
      TestFixtures.defaultInventoryRows.take(2))
    TestFixtures.writeManifest(root, Seq(
      ("shard-0.csv.gz", 1L, "x"), ("shard-1.csv.gz", 1L, "y")))
  }

  private def run(root: String, manifestPath: String) =
    ListProducerJob.run(spark, manifestPath, s"$root/inventory/*.csv.gz",
      s"$root/job.json", s"$root/queue", dstBucket = "dstb",
      queues = 2, batchSize = 3)

  test("manifest -> inventory -> histogram + fanout -> job.json, end to end") {
    val root = tmpDir("lpj")
    val res = run(root, fixture(root))

    assert(res.totalObjects == 9) // 7 + 2
    assert(res.corruptRows == 1)
    // 9 objects in ≤3-object messages over 2 queues → at least 3 messages
    assert(res.messages >= 3)

    val job = graft.sinks.Sinks.readJsonDoc(spark, s"$root/job.json")
    val stats = job.select("statistics.*").first()
    // from defaultInventoryRows: sub1GB counts size<=1e6: shard0 has
    // 500k + 1e6 (2), shard1 repeats them (2) → 4
    assert(stats.getAs[Long]("totalObjectsSub1GB") == 4)
    assert(stats.getAs[Long]("totalObjects") == 9)
    // >5e9 object excluded from the largest bucket: shard0's 6e9 row
    assert(stats.getAs[Long]("totalObjectsSub5TB") == 8)
    assert(job.select("job_info.queue_num").first().getLong(0) == 2L)
  }

  test("one scan feeding one write: the run is the fan-out write's jobs") {
    val root = tmpDir("lpj_jobs")
    val (res, cost) = Meter.measure(spark)(run(root, fixture(root)))
    assert(cost.jobs.size == RunJobs, s"jobs: ${cost.jobs.map(_.callSite)}")
    // the observed counts are what the write landed
    val landed = spark.read.json(s"$root/queue")
    assert(res.messages == landed.count() && res.messages >= 3)
    assert(landed.agg(sum("n_objects")).first().getLong(0) == res.totalObjects)
  }

  test("job.json is the manifest in its key order plus statistics and job_info") {
    val root = tmpDir("lpj_doc")
    val manifestPath = fixture(root)
    run(root, manifestPath)
    val manifest = tree(manifestPath)
    val job = tree(s"$root/job.json")
    assert(Seq("sourceBucket", "destinationBucket", "fileFormat", "files")
      .forall(k => keys(manifest).contains(k)))
    assert(keys(job) == keys(manifest) ++ Seq("statistics", "job_info"))
    assert(keys(manifest).forall(k => job.get(k) == manifest.get(k)))
    assert(keys(job.get("statistics")) ==
      "totalObjects" +: ListProducerJob.BucketNames.map(_._1))
    assert(keys(job.get("job_info")) == Seq("src_type", "queue_url_prefix",
      "queue_num", "message_body_max_num", "dst_bucket"))
    assert(job.get("job_info").get("dst_bucket").asText == "dstb")
  }

  test("an inventory of corrupt rows only: zero statistics, no messages") {
    val root = tmpDir("lpj_corrupt")
    TestFixtures.writeS3InventoryGz(s"$root/inventory", "shard-0", Nil,
      malformedLines = Seq("\"bad\",\"row\"", "\"too\",\"short\",\"row\""))
    val manifestPath = TestFixtures.writeManifest(root, Seq(("shard-0.csv.gz", 1L, "x")))
    assert(run(root, manifestPath) == ListProducerJob.Result(0, 2, 0))
    val stats = tree(s"$root/job.json").get("statistics")
    assert(keys(stats).map(k => stats.get(k).asLong) ==
      Seq.fill(1 + ListProducerJob.BucketNames.size)(0L))
  }
}

class TaskPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("executor: consume -> copy -> log, failures dead-letter after 3 receives") {
    val root = tmpDir("exec")
    val (queueDir, logDir, dlqDir) =
      (s"$root/queue", s"$root/log", s"$root/dlq")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(queueDir))

    // two messages: one clean, one containing the poison key
    val mk = (q: Int, b: Long, keys: Seq[String]) =>
      (q, b, 1, keys.map(k =>
        s"""{"Bucket":"s","Key":"$k","Size":${k.length * 100},"ETag":"e","dst_bucket":"d"}""")
        .mkString("[", ",", "]"))
    Seq(mk(0, 0L, Seq("ok-1", "ok-2")), mk(1, 0L, Seq("ok-3", "poison")))
      .toDF("queue", "batch_id", "receive_count", "body")
      .write.mode("append").json(queueDir)

    val q = TaskPipeline.runExecutor(spark, queueDir, logDir, dlqDir,
      s"$root/ckpt", failWhen = col("Key") === "poison")
    q.processAllAvailable() // drains initial + re-enqueued generations
    q.stop()

    val log = spark.read.parquet(logDir)
    assert(log.filter($"ok" === 1).select("Key").as[String].collect().toSet
      == Set("ok-1", "ok-2", "ok-3"))
    // every attempt is logged: the poison key appears once per receive
    assert(log.filter($"ok" === 0).count() == 3)
    // the poison key reached the DLQ exactly once, at receive_count 3 —
    // and the DLQ is message-shaped, consumable by unpack (redrive path)
    val dlqMsgs = spark.read.schema(TaskPipeline.messageSchema).json(dlqDir)
    val dead = TaskPipeline.unpack(dlqMsgs)
      .select("Key", "receive_count").as[(String, Int)].collect().toSeq
    assert(dead == Seq(("poison", 3)))

    // stats over the log (batch-incremental path, A7)
    TaskPipeline.statsIncrement(spark, logDir, s"$root/stat")
    val stat = spark.read.parquet(s"$root/stat")
    assert(stat.agg(sum("success_num")).as[Long].head() == 3L)
    // idempotent re-run (same HWM) leaves totals unchanged
    TaskPipeline.statsIncrement(spark, logDir, s"$root/stat")
    assert(spark.read.parquet(s"$root/stat")
      .agg(sum("success_num")).as[Long].head() == 3L)
  }

  private def message(q: Int, b: Long, rx: Int, keys: String*): (Int, Long, Int, String) =
    (q, b, rx, keys.map(k =>
      s"""{"Bucket":"s","Key":"$k","Size":${k.length * 100},"ETag":"e","dst_bucket":"d"}""")
      .mkString("[", ",", "]"))

  private def land(queueDir: String, msgs: (Int, Long, Int, String)*): Unit =
    msgs.toDF("queue", "batch_id", "receive_count", "body")
      .write.mode("append").json(queueDir)

  test("executor batch: one job without failures, one write job per output") {
    val root = tmpDir("execjobs")
    val (queueDir, logDir, dlqDir) = (s"$root/queue", s"$root/log", s"$root/dlq")
    land(queueDir, message(0, 0L, 1, "ok-1", "ok-2"))
    // jobs per executor batch, in batch order
    def drainJobs(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Int] = {
      val jobs = Meter.measure(spark)(q.processAllAvailable())._2.jobs
      assert(jobs.forall(_.description.startsWith("executor batch ")),
        jobs.map(_.description))
      jobs.groupBy(_.description).values.toSeq.sortBy(_.map(_.id).min).map(_.size)
    }
    val q = TaskPipeline.runExecutor(spark, queueDir, logDir, dlqDir,
      s"$root/ckpt", failWhen = col("Key").startsWith("poison"))
    try {
      // nothing fails: the log write is the batch's only job
      assert(drainJobs(q) == Seq(1))
      // one landing with a first-receive and a third-receive failure:
      // log + DLQ + retry, then log + retry, then log + DLQ
      land(queueDir, message(1, 0L, 1, "ok-3", "poison-a"),
        message(2, 0L, 3, "poison-b"))
      assert(drainJobs(q) == Seq(3, 2, 2))
    } finally q.stop()
    val log = spark.read.parquet(logDir)
    assert(log.filter($"ok" === 1).count() == 3 && log.filter($"ok" === 0).count() == 4)
    val dead = TaskPipeline.unpack(spark.read.schema(TaskPipeline.messageSchema).json(dlqDir))
      .select("Key", "receive_count").as[(String, Int)].collect().toSeq.sorted
    assert(dead == Seq(("poison-a", 3), ("poison-b", 3)))
  }

  test("every job of an executor + stats drain carries its batch label") {
    val root = tmpDir("execlabels")
    val (queueDir, logDir) = (s"$root/queue", s"$root/log")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
    land(queueDir, message(0, 0L, 1, "ok-1", "poison"), message(1, 0L, 1, "ok-2"))
    val (_, cost) = Meter.measure(spark) {
      val exec = TaskPipeline.runExecutor(spark, queueDir, logDir, s"$root/dlq",
        s"$root/ckpt-exec", failWhen = col("Key") === "poison")
      val stats = TaskPipeline.runStatsJob(spark, logDir, s"$root/stat", s"$root/ckpt-stats")
      try {
        exec.processAllAvailable()
        stats.processAllAvailable()
      } finally { exec.stop(); stats.stop() }
    }
    val labels = cost.jobs.map(_.description)
    assert(labels.forall(_.matches("(executor|stats) batch \\d+")), labels)
    assert(labels.exists(_.startsWith("executor")) && labels.exists(_.startsWith("stats")))
  }

  /** Appends (Key, Size, ok, replication_time) rows to a monitor log. */
  private def landLog(logDir: String, rows: (String, Long, Int, Long)*): Unit =
    rows.toDF("Key", "Size", "ok", "replication_time")
      .write.mode("append").parquet(logDir)

  test("a new stats checkpoint holds one state partition; an 8-partition one resumes at 8") {
    val root = tmpDir("statsparts")
    val logDir = s"$root/log"
    def instances(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numStateStoreInstances).toSet.toSeq match {
        case Seq(n) => n
        case ns => fail(s"one state operator expected, got instances $ns")
      }
    // a store that runs each batch frame once: the metric sums every
    // execution of the state stage
    def store(name: String) = graft.connectors.VersionedKeyedStore(s"$root/$name")
    def statRows(name: String): Seq[(Long, Long, Long, Long, Long)] =
      store(name).read(spark).get.select("start_time", "success_size",
        "success_num", "failed_size", "failed_num")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    landLog(logDir, ("k1", 100L, 1, 30L), ("k2", 50L, 0, 45L), ("k3", 10L, 1, 90L))

    // batch 1: a new checkpoint on the default path, and one built at
    // the former default of 8 partitions
    val one = TaskPipeline.runStatsJob(spark, logDir, store("stat1"), s"$root/ckpt1")
    val eight = TaskPipeline.runStatsJob(spark, logDir, store("stat8"), s"$root/ckpt8",
      partitions = graft.streaming.StreamSessions.StatePartitions)
    try {
      one.processAllAvailable()
      eight.processAllAvailable()
      assert(instances(one) == 1)
      assert(instances(eight) == 8)
    } finally eight.stop()

    // batch 2 (a late-within-watermark row included): the 8-partition
    // checkpoint resumes on the default path and keeps its count
    landLog(logDir, ("k4", 7L, 1, 40L), ("k5", 20L, 0, 200L))
    val resumed = TaskPipeline.runStatsJob(spark, logDir, store("stat8"), s"$root/ckpt8")
    try {
      one.processAllAvailable()
      resumed.processAllAvailable()
      assert(instances(one) == 1)
      assert(instances(resumed) == 8)
    } finally { one.stop(); resumed.stop() }
    assert(statRows("stat1") == Seq(
      (0L, 107L, 2L, 50L, 1L), (60L, 10L, 1L, 0L, 0L), (180L, 0L, 0L, 20L, 1L)))
    assert(statRows("stat8") == statRows("stat1"))
  }

  test("a ParquetStore stats batch runs its state stage once") {
    val root = tmpDir("statsonce")
    val logDir = s"$root/log"
    landLog(logDir, ("k1", 100L, 1, 30L))
    val q = TaskPipeline.runStatsJob(spark, logDir, s"$root/stat", s"$root/ckpt")
    try {
      q.processAllAvailable()
      // the second batch finds the store and upserts into it
      landLog(logDir, ("k2", 50L, 0, 45L), ("k3", 10L, 1, 90L))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.map(_.numStateStoreInstances).toSeq == Seq(1L))
    } finally q.stop()
    val rows = spark.read.parquet(s"$root/stat")
      .select("start_time", "success_size", "success_num", "failed_size", "failed_num")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(rows == Seq((0L, 100L, 1L, 50L, 1L), (60L, 10L, 1L, 0L, 0L)))
  }

  test("a stats batch is its state-store job and the store's upsert, one state task") {
    val root = tmpDir("statsjobs")
    val logDir = s"$root/log"
    val stat = graft.connectors.VersionedKeyedStore(s"$root/stat")
    landLog(logDir, ("k1", 100L, 1, 30L), ("k2", 50L, 0, 45L), ("k3", 10L, 1, 90L))
    val q = TaskPipeline.runStatsJob(spark, logDir, stat, s"$root/ckpt")
    def drain(): Seq[Meter.Job] = {
      val jobs = Meter.measure(spark)(q.processAllAvailable())._2.jobs
      assert(jobs.forall(_.description.matches("stats batch \\d+")),
        jobs.map(_.description))
      jobs
    }
    try {
      // into an empty store: the state-store job (the batch's
      // materialization) and the staging write
      val first = drain()
      // a batch that rewrites a stored window adds the snapshot read's
      // AQE stage; the bucket set rides the materialization (no
      // discovery job)
      landLog(logDir, ("k4", 7L, 1, 40L), ("k5", 20L, 0, 200L))
      val second = drain()
      assert(Seq(first, second).map(_.size) == Seq(2, 3),
        Seq(first, second).map(_.map(j => (j.callSite, j.tasks))))
      // one state task, not 8: no stats batch plans more than 8 tasks
      assert(Seq(first, second).forall(_.map(_.tasks).sum <= 8),
        Seq(first, second).map(_.map(_.tasks)))
    } finally q.stop()
    assert(stat.read(spark).get.count() == 3)
  }

  test("streaming stats job: watermarked window agg upserts the stat store") {
    val root = tmpDir("stats")
    val logDir = s"$root/log"
    Seq(("k1", 100L, 1, 30L), ("k2", 50L, 0, 45L), ("k3", 10L, 1, 90L))
      .toDF("Key", "Size", "ok", "replication_time")
      .write.parquet(logDir)

    val q = TaskPipeline.runStatsJob(spark, logDir, s"$root/stat", s"$root/ckpt")
    q.processAllAvailable()
    q.stop()

    val stat = spark.read.parquet(s"$root/stat").orderBy("start_time")
    val rows = stat.select("start_time", "success_size", "failed_num")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((0L, 100L, 1L), (60L, 10L, 0L)))
  }
}

case class Msg(msg_id: String, payload: String)

class StatefulDedupSpec extends SparkSpec {
  import spark.implicits._

  test("flatMapGroupsWithState dedup is effectively-once across micro-batches") {
    val root = tmpDir("sdedup")
    val inDir = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def writeBatch(name: String, msgs: Seq[Msg]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$inDir/$name.json"),
        msgs.map(m => s"""{"msg_id":"${m.msg_id}","payload":"${m.payload}"}""")
          .mkString("\n"))

    writeBatch("b1", Seq(Msg("m1", "a"), Msg("m2", "b"), Msg("m1", "dup-in-batch")))

    val stream = spark.readStream
      .schema("msg_id STRING, payload STRING")
      .json(inDir).as[Msg]
    val deduped = graft.streaming.StatefulDedup.firstSighting[Msg](stream, _.msg_id)
    val q = deduped.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .format("memory").queryName("sdedup_out")
      .start()
    q.processAllAvailable()
    writeBatch("b2", Seq(Msg("m2", "redelivery"), Msg("m3", "c")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sdedup_out").as[Msg].collect()
    assert(got.map(_.msg_id).sorted.toSeq == Seq("m1", "m2", "m3"))
    // and the first sighting's payload won, not the redelivery's
    assert(got.find(_.msg_id == "m2").get.payload == "b")
  }
}

class AzureDiffJobSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs of a first, enqueuing `runWithDiff` over a parsed diff: the
    * totals aggregate (3), the queue write, which observes how many
    * events it enqueued (3), and the ledger write (1). */
  private val EnqueueJobs = 7

  private val diffCsv =
    """Storage-Account,Name,Creation-Time,Last-Modified,Etag,Content-Length,Variance
      |sa1,blob/new.bin,2021-01-01T00:00:00Z,2021-01-02T00:00:00Z,0xA,100,New
      |sa1,blob/upd.bin,2021-01-01T00:00:00Z,2021-01-03T00:00:00Z,0xB,200,update
      |sa1,blob/del.bin,2021-01-01T00:00:00Z,2021-01-04T00:00:00Z,0xC,300,Delete
      |sa1,blob/bad.bin,2021-01-01T00:00:00Z,2021-01-05T00:00:00Z,0xD,garbage,New""".stripMargin

  test("diff csv -> events -> ledger-dedup -> queue, idempotent across runs") {
    // a plain local root and the same kind of root `file:`-qualified: the
    // second run must find the first run's ledger under either spelling
    for (scheme <- Seq("", "file:")) {
      val local = tmpDir("azdiff")
      val root = scheme + local
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$local/diff.csv"), diffCsv)

      val r1 = graft.exec.AzureDiffJob.run(spark, s"$root/diff.csv",
        s"$root/ledger", s"$root/queue", queues = 2, batchSize = 2)
      assert(r1.rows == 4 && r1.badLength == 1 && r1.enqueued == 4 && r1.skipped == 0)

      // messages unpack to events with the right type dispatch
      val msgs = spark.read.json(s"$root/queue")
      val bodies = msgs.select("body").as[String].collect().mkString
      assert(bodies.contains("BlobDeleted") && bodies.contains("BlobCreated"))
      assert(msgs.agg(sum("n_objects")).first().getLong(0) == 4)

      // second run over the SAME diff: ledger suppresses every event
      val r2 = graft.exec.AzureDiffJob.run(spark, s"$root/diff.csv",
        s"$root/ledger", s"$root/queue", queues = 2, batchSize = 2)
      assert(r2.enqueued == 0 && r2.skipped == 4, s"root '$root': $r2")
      assert(spark.read.json(s"$root/queue").agg(sum("n_objects")).first().getLong(0) == 4)
    }
  }

  test("an enqueuing run counts its events on the queue write, with no job before it") {
    val root = tmpDir("azdiff_jobs")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/diff.csv"), diffCsv)
    val diff = spark.read.option("header", "true").csv(s"$root/diff.csv")
    val (r, cost) = Meter.measure(spark)(graft.exec.AzureDiffJob.runWithDiff(
      spark, diff, s"$root/ledger", s"$root/queue", queues = 2, batchSize = 2))
    assert(r.enqueued == 4 && r.skipped == 0)
    val sites = cost.jobs.map(_.callSite)
    assert(!sites.exists(_.startsWith("count at")) && sites.size == EnqueueJobs, s"jobs: $sites")
  }
}

class SourceVariantsSpec extends SparkSpec {
  import spark.implicits._

  test("JSON inventory variant parses the same schema, quarantines corrupt lines") {
    val dir = tmpDir("jsoninv")
    val lines = Seq(
      """{"Bucket":"b","Key":"a%20b+c","Size":12345,"LastModifiedDate":"2017-12-24T01:02:03.000Z","ETag":"e","StorageClass":"STANDARD","IsMultipartUploaded":"false","ReplicationStatus":""}""",
      """{not valid json at all""",
      """{"Bucket":"b","Key":"k2","Size":99,"LastModifiedDate":"2017-12-24T01:02:03.000Z","ETag":"e","StorageClass":"STANDARD","IsMultipartUploaded":"true","ReplicationStatus":"COMPLETED"}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/inv.json"), lines.mkString("\n"))
    val raw = graft.sources.InventoryReader.readS3InventoryJson(
      spark, s"$dir/inv.json").cache()
    val good = graft.sources.InventoryReader.goodRows(raw)
    assert(good.count() == 2)
    assert(graft.sources.InventoryReader.corruptRows(raw).count() == 1)
    assert(good.filter($"Key" === "a b c").count() == 1) // F1 decode applies
  }

  test("gzip -> parquet normalization preserves rows and partitions by bucket") {
    val dir = tmpDir("norm")
    TestFixtures.writeS3InventoryGz(s"$dir/csv", "shard",
      TestFixtures.defaultInventoryRows)
    val normalized = graft.sources.InventoryReader.normalizeToParquet(
      spark, s"$dir/csv/*.csv.gz", s"$dir/parquet")
    assert(normalized.count() == 7)
    // physically partitioned by bucket -> partition pruning on reads
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/parquet/Bucket=srcb")))
    // pruned scan reads only requested columns from splittable parquet
    val plan = normalized.select("Key").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<Key:string>"))
  }

  test("verification result files: A8 columns, success/errors split (K6)") {
    val src = Seq(("k1", 1L, 1L, "e"), ("k2", 2L, 2L, "e")).toDF("key", "size", "mtime", "etag")
    val dst = Seq(("k1", 1L, 1L, "e")).toDF("key", "size", "mtime", "etag")
    val rows = graft.ops.Verification.resultRows(
      graft.ops.Verification(src, dst, "key"),
      processTime = org.apache.spark.sql.functions.lit("2021-01-01 00:00:00"),
      timeCostMs = org.apache.spark.sql.functions.lit(5L))
    val out = tmpDir("vres") + "/results"
    graft.sinks.Sinks.writePartitionedCsv(rows, out, "result")
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 2)
    val errs = back.filter($"Message".startsWith("mismatch")).select("key").as[String].collect()
    assert(errs.toSeq == Seq("k2"))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray.count(_.toString.startsWith("result=")) == 2)
  }
}

class HistogramAggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("typed Aggregator equals the sum(when) form") {
    val sizes = Seq(500000L, 1000000L, 5000001L, 2000000000L, 6000000000L)
    val viaAgg = sizes.toDS().select(
      graft.ops.SizeHistogram.aggregator().toColumn).head()
    val viaSql = graft.ops.SizeHistogram(sizes.toDF("sz"), $"sz").first()
    assert(viaAgg.total_objects == viaSql.getAs[Long]("total_objects"))
    assert(viaAgg.total_size == viaSql.getAs[Long]("total_size"))
    val sqlBuckets = graft.ops.SizeHistogram.ReferenceThresholds
      .map(t => viaSql.getAs[Long](s"sub_$t"))
    assert(viaAgg.buckets == sqlBuckets)
  }
}

class WatermarkLatenessSpec extends SparkSpec {
  import spark.implicits._

  test("T5 upgrade: late-within-watermark rows correct their window; too-late rows drop") {
    val root = tmpDir("late")
    val logDir = s"$root/log"
    // batch 1: windows 0 and 3000; max event time 3000s → watermark 2400s
    Seq(("k1", 100L, 1, 3000L), ("k2", 10L, 1, 0L))
      .toDF("Key", "Size", "ok", "replication_time").write.parquet(logDir)

    val q = TaskPipeline.runStatsJob(spark, logDir, s"$root/stat", s"$root/ckpt")
    q.processAllAvailable()

    // batch 2: in-window addition (3010), late-but-allowed (2700),
    // and too-late (600 < watermark 2400)
    Seq(("k3", 5L, 1, 3010L), ("k4", 7L, 1, 2700L), ("k5", 9L, 1, 600L))
      .toDF("Key", "Size", "ok", "replication_time")
      .write.mode("append").parquet(logDir)
    q.processAllAvailable()
    q.stop()

    val stat = spark.read.parquet(s"$root/stat")
      .select("start_time", "success_size", "success_num")
      .as[(Long, Long, Long)].collect()
      .map { case (t, s, n) => (t, (s, n)) }.toMap
    assert(stat(0L) == ((10L, 1L)))
    assert(stat(3000L) == ((105L, 2L)))   // late-batch row merged in
    assert(stat(2700L) == ((7L, 1L)))     // within-watermark window created
    assert(!stat.contains(600L))          // too-late row dropped entirely
  }
}

class DashboardSpec extends SparkSpec {
  import spark.implicits._

  private val stat = Seq(
    (1, 0L, 1000L, 10L, 100L, 1L),
    (1, 60L, 3000L, 30L, 0L, 0L),
    (5, 0L, 4000L, 40L, 100L, 1L) // non-1-minute rows must be ignored
  ).toDF("time_unit", "start_time", "success_size", "success_num",
    "failed_size", "failed_num")

  test("totalProgress payload: totals, speed, pct, ETA") {
    val r = graft.ops.Dashboard.totalProgress(stat, totalObjects = 100L,
      totalSize = 10000L).first()
    assert(r.getAs[Long]("total_success_size") == 4000L)
    assert(r.getAs[Long]("total_success_num") == 40L)
    assert(r.getAs[Long]("elapsed_minutes") == 2L)
    assert(r.getAs[Long]("bytes_per_minute") == 2000L)
    assert(r.getAs[Double]("pct_objects") == 40.0)
    assert(r.getAs[Long]("eta_minutes") == 3L) // (10000-4000)/2000
  }

  test("tasksGraph: 60-slot zero-filled series ending at the current minute") {
    val g = graft.ops.Dashboard.tasksGraph(stat, nowEpochSec = 119L) // minute 60
    val rows = g.orderBy("start_time").select("start_time", "success_num")
      .as[(Long, Long)].collect()
    assert(rows.length == 60)
    assert(rows.last == ((60L, 30L)))
    assert(rows.head._1 == 60L - 59 * 60)
    assert(rows.count(_._2 != 0L) == 2) // only the two real minutes
  }
}

class OrcAndMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("normalization to ORC round-trips with pruned scans") {
    val dir = tmpDir("orc")
    TestFixtures.writeS3InventoryGz(s"$dir/csv", "shard",
      TestFixtures.defaultInventoryRows)
    val orc = graft.sources.InventoryReader.normalizeTo(
      spark, s"$dir/csv/*.csv.gz", s"$dir/orc", "orc")
    assert(orc.count() == 7)
    // sizes over 1e6: 5e6, 5e6+1, 1e8, 2e9, 6e9
    assert(orc.filter($"Size" > 1000000L).count() == 5)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/orc/Bucket=srcb")))
  }

  test("queue metrics surface from a finished streaming query") {
    val root = tmpDir("qm")
    val inDir = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$inDir/a.json"),
      """{"msg_id":"m1","payload":"x"}""")
    val st = spark.readStream.schema("msg_id STRING, payload STRING").json(inDir)
    val q = st.writeStream.option("checkpointLocation", s"$root/ck")
      .format("memory").queryName("qm_out").outputMode("append").start()
    q.processAllAvailable()
    val m = graft.streaming.TaskPipeline.queueMetrics(q)
    q.stop()
    assert(m.contains("numInputRows") && m("numInputRows") >= 0.0)
    assert(m.contains("batchId"))
  }
}

class DiscoveryAndSplitSpec extends SparkSpec {
  import spark.implicits._

  test("S5: recursive shard discovery under nested roots") {
    val root = tmpDir("disc")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/a/b"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/inv1.csv"),
      "Name,Content-Length\nx,1")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/a/b/inv2.csv"),
      "Name,Content-Length\ny,2")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/a/skip.txt"),
      "not,a,csv")
    val found = graft.sources.InventoryReader.readAllCsv(spark, root)
    assert(found.count() == 2)
    assert(found.select("Name").as[String].collect().toSet == Set("x", "y"))
  }

  test("K8: chunk-split via maxRecordsPerFile replaces the reference's splitter") {
    val out = tmpDir("split") + "/rows"
    spark.range(100).toDF("id")
      .coalesce(1)
      .write.option("maxRecordsPerFile", 30).parquet(out)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray
      .count(_.toString.endsWith(".parquet"))
    assert(parts == 4) // 30+30+30+10
    assert(spark.read.parquet(out).count() == 100)
  }
}

class SnapshotDiffChainSpec extends SparkSpec {
  import spark.implicits._

  test("A4 closure: two A3 snapshots -> engine diff -> events -> queue") {
    val mk = (rows: Seq[(String, String, String, Long)]) =>
      rows.toDF("Name", "Etag", "Last-Modified", "Content-Length")
        .withColumn("Creation-Time", lit("2021-01-01T00:00:00Z"))
    val old = mk(Seq(
      ("b/same.bin", "e1", "2021-01-02T00:00:00Z", 10L),
      ("b/upd.bin", "e2", "2021-01-02T00:00:00Z", 20L),
      ("b/del.bin", "e3", "2021-01-02T00:00:00Z", 30L)))
    val curr = mk(Seq(
      ("b/same.bin", "e1", "2021-01-02T00:00:00Z", 10L),
      ("b/upd.bin", "e2b", "2021-01-03T00:00:00Z", 25L),
      ("b/new.bin", "e4", "2021-01-04T00:00:00Z", 40L)))

    val diff = graft.exec.AzureDiffJob.diffSnapshots(old, curr, "sa9")
    val classes = diff.select("Name", "Variance").as[(String, String)].collect().toMap
    assert(classes == Map("b/upd.bin" -> "Update", "b/del.bin" -> "Delete",
      "b/new.bin" -> "New"))
    // wire columns carry the NEW side's values where present
    val upd = diff.filter($"Name" === "b/upd.bin")
      .select("Etag", "Content-Length").as[(String, Long)].head()
    assert(upd == (("e2b", 25L)))

    // chain straight into the event pipeline
    val root = tmpDir("chain")
    val r = graft.exec.AzureDiffJob.runWithDiff(spark, diff,
      s"$root/ledger", s"$root/queue", queues = 2, batchSize = 10)
    assert(r.rows == 3 && r.enqueued == 3)
    val bodies = spark.read.json(s"$root/queue").select("body").as[String].collect().mkString
    assert(bodies.contains("BlobDeleted"))      // del.bin
    assert("BlobCreated".r.findAllIn(bodies).size >= 1) // new + upd
  }
}

class NormalizeInventorySpec extends SparkSpec {

  test("normalize: gzip-CSV -> sharded parquet, lossless, corrupt quarantined") {
    val root = tmpDir("norm")
    val invDir = s"$root/inventory"
    TestFixtures.writeS3InventoryGz(invDir, "shard-0",
      TestFixtures.defaultInventoryRows,
      malformedLines = Seq("\"too\",\"short\""))
    TestFixtures.writeS3InventoryGz(invDir, "shard-1",
      TestFixtures.defaultInventoryRows.take(3))

    val before = spark.sparkContext.getPersistentRDDs.keySet
    // tiny shard target: 10 rows must split across several files
    val res = graft.sources.InventoryReader.normalizeInventory(
      spark, s"$invDir/*.csv.gz", s"$root/parquet", targetShardBytes = 256L)
    assert(res.rows == 10 && res.corrupt == 1)
    assert(res.shards > 1)
    // a LEAK would ADD a persisted RDD; comparing raw sizes instead
    // raced the async ContextCleaner reaping EARLIER suites'
    // localCheckpoint blocks between the two reads (shared session)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"normalizeInventory leaked its scan cache: RDD ids $leaked")

    // the parquet IS goodRows: same rows, decoded columns, sharded files
    val back = spark.read.parquet(res.outDir)
    assert(back.count() == 10)
    val raw = graft.sources.InventoryReader.readS3Inventory(
      spark, s"$invDir/*.csv.gz").cache()
    val expect = graft.sources.InventoryReader.goodRows(raw)
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    raw.unpersist()
    val files = new java.io.File(res.outDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == res.shards)

    // corrupt rows are auditable, not dropped
    val corrupt = spark.read.text(s"${res.outDir}.corrupt")
    assert(corrupt.count() == 1)
  }

  test("normalize with no corrupt rows writes no quarantine dir") {
    val root = tmpDir("norm2")
    TestFixtures.writeS3InventoryGz(s"$root/inv", "s0",
      TestFixtures.defaultInventoryRows.take(2))
    val res = graft.sources.InventoryReader.normalizeInventory(
      spark, s"$root/inv/*.csv.gz", s"$root/pq")
    assert(res.rows == 2 && res.corrupt == 0 && res.shards == 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/pq.corrupt")))
  }
}

class NormalizeLifecycleSpec extends SparkSpec {

  test("re-normalizing a fixed input clears the stale corrupt quarantine") {
    // a plain local outDir and a `file:`-qualified one: the stale
    // quarantine must go under either spelling
    for (scheme <- Seq("", "file:")) {
      val root = tmpDir("normfix")
      TestFixtures.writeS3InventoryGz(s"$root/bad", "s0",
        TestFixtures.defaultInventoryRows.take(2),
        malformedLines = Seq("\"oops\""))
      TestFixtures.writeS3InventoryGz(s"$root/good", "s0",
        TestFixtures.defaultInventoryRows.take(2))
      val out = s"$scheme$root/pq"
      val quarantine = java.nio.file.Paths.get(s"$root/pq.corrupt")
      val r1 = graft.sources.InventoryReader.normalizeInventory(
        spark, s"$root/bad/*.csv.gz", out)
      assert(r1.corrupt == 1)
      assert(java.nio.file.Files.exists(quarantine))
      // same outDir, clean input: the audit trail must describe THIS run
      val r2 = graft.sources.InventoryReader.normalizeInventory(
        spark, s"$root/good/*.csv.gz", out)
      assert(r2.corrupt == 0)
      assert(!java.nio.file.Files.exists(quarantine), s"outDir '$out'")
    }
  }

  test("a failed normalize write still releases the scan cache") {
    val root = tmpDir("normfail")
    TestFixtures.writeS3InventoryGz(s"$root/inv", "s0",
      TestFixtures.defaultInventoryRows.take(2))
    // outDir's PARENT is an existing FILE -> the parquet write throws
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/blocked"), "not a dir")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      graft.sources.InventoryReader.normalizeInventory(
        spark, s"$root/inv/*.csv.gz", s"$root/blocked/out")
    }
    // added ids, not raw sizes: the ContextCleaner may reap an earlier
    // suite's dead localCheckpoint between the two reads
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "failed normalize orphaned the scan cache")
  }

  test("bucket-partitioned layout keeps quarantine + release semantics") {
    val root = tmpDir("normbkt")
    TestFixtures.writeS3InventoryGz(s"$root/inv", "s0",
      TestFixtures.defaultInventoryRows,
      malformedLines = Seq("\"oops\""))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val back = graft.sources.InventoryReader.normalizeToParquet(
      spark, s"$root/inv/*.csv.gz", s"$root/pq")
    assert(back.count() == 7)
    assert(spark.read.text(s"$root/pq.corrupt").count() == 1)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/pq/Bucket=srcb")))
  }
}
