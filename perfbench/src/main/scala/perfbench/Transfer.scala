package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.connectors.{FileQueue, KeyedStore, QueueSource, VersionedKeyedStore}
import graft.serve.DashboardServer
import graft.sinks.VersionedStore
import graft.streaming.TaskPipeline

/** `transfer`: Modules II, III and V as streams — the executor drains a
  * backlog of queue messages (failures retried, then dead-lettered),
  * the stats job folds the transfer log into a versioned stat store,
  * and a dashboard over that store is polled on a fixed schedule. */
object Transfer extends Workload {
  val PollPeriodMs = 1000L
  val DrainLimitS = 60L

  def generate(dir: Path, seed: Long, small: Boolean): Unit = {
    // more files than FileQueue's maxFilesPerTrigger (16), so the
    // backlog drains over several triggers, and the retries after them
    val files = if (small) 20 else 64
    val msgs = 1
    val perMsg = if (small) 10 else 50
    val r = Gen.rng(seed, "transfer")
    // exactly 2% of the objects (at least one) fail, at seeded positions
    val total = files * msgs * perMsg
    val failAt = r.ints(0, total).distinct().limit(math.max(1, total / 50)).toArray.toSet
    var healthy, failing = 0L
    var okSize, failSize = 0L
    var n = 0
    for (f <- 0 until files) {
      val lines = (0 until msgs).map { m =>
        val actions = (0 until perMsg).map { _ =>
          val fail = failAt(n)
          n += 1
          // event time (Size mod 3600) inside the first five minutes, so
          // every attempt lands within the stats job's watermark
          val size = 3600L * r.nextInt(10000) + r.nextInt(300)
          if (fail) { failing += 1; failSize += size } else { healthy += 1; okSize += size }
          val key = f"obj/$f%03d/$n%06d${if (fail) ".fail" else ".bin"}"
          s"""{"Bucket":"src-bucket","Key":"$key","Size":$size,"ETag":"${Gen.randomHex(r, 16)}","dst_bucket":"dst-bucket"}"""
        }
        s"""{"queue":${f % 4},"batch_id":${f * msgs + m},"receive_count":1,"body":${Gen.jsonString(actions.mkString("[", ",", "]"))}}"""
      }
      Gen.writeLines(dir.resolve("backlog").resolve(f"msg-$f%04d.json"), lines.iterator)
    }
    Gen.writeTruth(dir, Map(
      "objects" -> (healthy + failing),
      "attempts" -> (healthy + 3 * failing),
      "log.ok_rows" -> healthy, "log.ok_keys" -> healthy,
      "log.failed_rows" -> 3 * failing, "log.failed_attempts_per_key" -> (if (failing > 0) "3" else "none"),
      "dlq.rows" -> failing, "dlq.keys" -> failing, "dlq.receive_count" -> (if (failing > 0) "3" else "none"),
      "stat.success_num" -> healthy, "stat.failed_num" -> 3 * failing,
      "stat.success_size" -> okSize, "stat.failed_size" -> 3 * failSize,
      "total_size" -> okSize))
  }

  private val statSchema = StructType(Seq(
    StructField("start_time", LongType), StructField("success_size", LongType),
    StructField("success_num", LongType), StructField("failed_size", LongType),
    StructField("failed_num", LongType)))

  private final case class Lags(lags: Seq[Double], commits: Int, covered: Int)

  /** One dashboard poll: when it was due, when it ended, and what came back. */
  private final case class Poll(path: String, due: Long, end: Long, status: Int, body: String)

  def open(ctx: Ctx, in: Path): Runner = new Runner {
    private val spark = ctx.spark
    private val truth = Gen.readTruth(in)
    private val attempts = truth("attempts").toLong
    private val http = HttpClient.newHttpClient()

    /** The dashboard's stat provider: the stats job's rows as minute
      * buckets. It runs on the server's request threads; when traced it
      * marks them as the server's span, so their jobs are attributed. */
    private def statFrame(store: KeyedStore, serve: Option[OpenSpan])(): DataFrame = {
      for (t <- ctx.traced; s <- serve) t.adopt(s)
      store.read(spark).getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), statSchema))
        .withColumn("time_unit", lit(1))
    }

    /** Objects the DLQ holds so far (a plain file read). */
    private def dlqObjects(dir: Path): Long =
      if (!Files.isDirectory(dir)) 0L
      else Files.list(dir).iterator.asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => "\\\\\"Key\\\\\":".r.findAllMatchIn(Files.readString(p)).size.toLong).sum

    def round(i: Int): RoundOut = {
      val d = ctx.freshDir("transfer")
      val queueDir = Files.createDirectories(d.resolve("queue"))
      Files.list(in.resolve("backlog")).iterator.asScala.toSeq.sorted
        .foreach(p => Files.copy(p, queueDir.resolve(p.getFileName)))
      val logDir = Files.createDirectories(d.resolve("log"))
      val dlqDir = d.resolve("dlq")
      val statDir = d.resolve("stat").toString
      val plainStore = VersionedKeyedStore(statDir)
      val tr = ctx.traced
      val store: KeyedStore = tr.fold[KeyedStore](plainStore)(new TimedStore(plainStore, _))
      def queue(p: Path): QueueSource = {
        val q = FileQueue(p.toString, TaskPipeline.messageSchema)
        tr.fold[QueueSource](q)(new TimedQueue(q, _))
      }
      val polls = new ConcurrentLinkedQueue[Poll]()

      var execDone = 0L
      val t0 = System.nanoTime()
      val (_, cDrain) = ctx.call("streaming.TaskPipeline") {
        def spanOf(name: String) = tr.map(_.begin(name))
        def inSpan[T](o: Option[OpenSpan])(body: => T): T =
          (tr, o) match { case (Some(t), Some(x)) => t.within(x)(body); case _ => body }
        val sExec = spanOf("streaming.runExecutor")
        val exec = inSpan(sExec)(TaskPipeline.runExecutor(spark, queue(queueDir), logDir.toString,
          queue(dlqDir), d.resolve("ckpt-exec").toString, col("Key").endsWith(".fail")))
        val sStats = spanOf("streaming.runStatsJob")
        val stats = inSpan(sStats)(TaskPipeline.runStatsJob(spark, logDir.toString, store,
          d.resolve("ckpt-stats").toString))
        val sServe = spanOf("serve.DashboardServer")
        val server = new DashboardServer(statFrame(plainStore, sServe), truth("objects").toLong,
          truth("total_size").toLong)
        val port = inSpan(sServe)(server.start())
        // open loop: poll k is due at p0 + k * period, and is timed from then
        val poller = Executors.newSingleThreadScheduledExecutor()
        val p0 = System.nanoTime()
        var k = 0L
        poller.scheduleAtFixedRate(() => {
          val path = if (k % 2 == 0) "/totalProgress" else "/tasksGraph"
          val due = p0 + k * PollPeriodMs * 1000000L
          k += 1
          val (status, body) =
            try {
              val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
                HttpResponse.BodyHandlers.ofString())
              (resp.statusCode, resp.body)
            } catch { case e: Exception => (-1, e.toString) }
          val end = System.nanoTime()
          polls.add(Poll(path, due, end, status, body))
          tr.foreach(_.record("serve.DashboardServer.get", sServe.get.id, due, end))
        }, 0L, PollPeriodMs, TimeUnit.MILLISECONDS)

        // the executor is done when the DLQ holds every failing object:
        // retry files are newer than the originals, so the file source
        // takes them after every original, third attempts last, and a
        // batch logs its attempts before it dead-letters; the round is
        // done when the stats job has also folded every attempt (each log
        // row is read once, and a progress event follows the batch's
        // upsert)
        def executorDone: Boolean = dlqObjects(dlqDir) == truth("dlq.rows").toLong
        def statsDone: Boolean = stats.recentProgress.map(_.numInputRows).sum == attempts
        try {
          var finished = false
          while (!finished) {
            if (execDone == 0L && executorDone) execDone = System.nanoTime()
            finished = execDone != 0L && statsDone
            if (!finished) {
              require((System.nanoTime() - t0) / 1e9 < DrainLimitS, "drain did not complete")
              exec.exception.orElse(stats.exception).foreach(e => throw e)
              Thread.sleep(10)
            }
          }
        } finally {
          poller.shutdown()
          poller.awaitTermination(30, TimeUnit.SECONDS)
          server.stop(); sServe.foreach(_.end())
          exec.stop(); sExec.foreach(_.end())
          stats.stop(); sStats.foreach(_.end())
          tr.foreach { t =>
            t.addProgress("streaming.runExecutor", exec)
            t.addProgress("streaming.runStatsJob", stats)
          }
        }
      }

      // every poll is a call; a non-200 answer fails it
      val pollCalls = polls.asScala.toSeq.map { p =>
        val c = ctx.record("serve.DashboardServer.get", (p.end - p.due) / 1e9)
        if (p.status != 200) ctx.fail(c, s"${p.path} answered ${p.status}: ${p.body.take(200)}")
        c
      }

      val lags = ctx.checking {
        val log = spark.read.parquet(logDir.toString)
        val l = log.agg(sum(col("ok")), countDistinct(when(col("ok") === 1, col("Key"))),
          sum(lit(1) - col("ok"))).first()
        val perKey = log.filter(col("ok") === 0).groupBy("Key").count()
          .agg(min("count"), max("count")).first()
        val dlq = TaskPipeline.unpack(spark.read.schema(TaskPipeline.messageSchema).json(dlqDir.toString))
          .agg(count(lit(1)), countDistinct(col("Key")), min("receive_count"), max("receive_count")).first()
        val stat = VersionedStore.read(spark, statDir)
          .agg(sum("success_num"), sum("failed_num"), sum("success_size"), sum("failed_size")).first()
        def same(a: Any, b: Any): String =
          if (a == null) "none" else if (a == b) a.toString else s"$a..$b"
        ctx.check(cDrain, Map(
          "log.ok_rows" -> l.get(0).toString, "log.ok_keys" -> l.get(1).toString,
          "log.failed_rows" -> l.get(2).toString,
          "log.failed_attempts_per_key" -> same(perKey.get(0), perKey.get(1)),
          "dlq.rows" -> dlq.get(0).toString, "dlq.keys" -> dlq.get(1).toString,
          "dlq.receive_count" -> same(dlq.get(2), dlq.get(3)),
          "stat.success_num" -> stat.get(0).toString, "stat.failed_num" -> stat.get(1).toString,
          "stat.success_size" -> stat.get(2).toString, "stat.failed_size" -> stat.get(3).toString),
          truth.filter { case (key, _) => key.startsWith("log.") || key.startsWith("dlq.") || key.startsWith("stat.") })
        monitorLags(logDir.toString, statDir)
      }.getOrElse(Lags(Nil, 0, 0))
      ctx.check(cDrain, Map("monitor.commits_covered" -> lags.covered.toString),
        Map("monitor.commits_covered" -> lags.commits.toString))

      val polled = polls.asScala.toSeq
      val execS = (execDone - t0) / 1e9
      // the rate ends when the executor is done; the round when the
      // stat store has caught up as well
      RoundOut(objects = attempts.toDouble, objectSeconds = execS, roundSeconds = cDrain.seconds,
        detail = Map(
          "transfer_objects_per_s" -> Seq(attempts / cDrain.seconds),
          "executor_objects_per_s" -> Seq(attempts / execS),
          "lat:dashboard_ms" -> polled.map(p => (p.end - p.due) / 1e6),
          "lat:monitor_lag_s" -> lags.lags,
          "poll_late_ms_max" -> Seq(polled.map(p => (p.end - p.due) / 1e6).maxOption.getOrElse(0.0)),
          "serve.DashboardServer.errors" -> Seq(pollCalls.count(_.failed).toDouble)))
    }

    /** Commit times of the executor's log writes (one Spark write job
      * per batch: its files share a job id) with the cumulative attempts
      * after each, against the stat store's epochs and their totals. */
    private def monitorLags(logDir: String, statDir: String): Lags = {
      val perFile = spark.read.parquet(logDir).groupBy(input_file_name().as("f")).count().collect()
        .map(r => Path.of(new URI(r.getString(0))) -> r.getLong(1))
      val commits = perFile.groupBy { case (p, _) => p.getFileName.toString.split("-").slice(2, 7).mkString("-") }
        .values.map { fs =>
          (fs.map { case (p, _) => Files.getLastModifiedTime(p).toMillis }.max, fs.map(_._2).sum)
        }.toSeq.sortBy(_._1)
      val cumulative = commits.scanLeft((0L, 0L)) { case ((_, acc), (t, n)) => (t, acc + n) }.tail
      val epochs = VersionedStore.history(spark, statDir).select("epoch", "ts_millis").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val totals = epochs.map { case (e, ts) =>
        val r = VersionedStore.readAsOf(spark, statDir, e)
          .agg(coalesce(sum(col("success_num") + col("failed_num")), lit(0L))).first()
        (ts, r.getLong(0))
      }
      val lags = Stats.monitorLags(cumulative, totals).map(_ / 1e3)
      Lags(lags, cumulative.size, lags.size)
    }
  }
}
