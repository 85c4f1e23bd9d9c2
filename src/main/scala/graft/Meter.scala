package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one way to measure a block of driver code: Bench, the `Profile`
  * main and the job-count specs all read a [[Meter.Cost]], and this is
  * the only place that attaches a Spark listener (`MeterSpec` pins it).
  *
  * The listener bus delivers events late on a loaded box, so
  * [[measure]] drains it before attaching (the previous body's late
  * events stay out) and again before detaching (this body's late
  * events get in). */
object Meter {

  /** `tasks` is the planned task count over the job's stages. Times are
    * the events' own epoch millis; `endMs` is -1 for a job still
    * running when the body returned. `callSite` names the action that
    * submitted the job (`count at Foo.scala:12`), so a job nobody
    * labelled still says where it came from. */
  final case class Job(id: Int, startMs: Long, endMs: Long,
                       description: String, callSite: String, tasks: Int)

  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         cpuMs: Long, gcMs: Long, shuffleBytes: Long,
                         shuffleRecords: Long, spillBytes: Long)

  /** `fsOps` is the [[BenchFs.ops]] delta (0 unless the session runs on
    * `BenchFs`); `fsBytes` sums Hadoop's per-scheme bytesRead and
    * bytesWritten, which in local mode include the executors' data
    * reads. `busyS` is the union of the job intervals clipped to the
    * body, so concurrent jobs count once. */
  final case class Cost(wallS: Double, jobs: Seq[Job], stages: Seq[Stage],
                        fsOps: Long, fsBytes: Long, busyS: Double) {
    /** Wall time in which no job ran: planning, metadata I/O, commit
      * fences. */
    def driverS: Double = math.max(0.0, wallS - busyS)
    def shuffleBytes: Long = stages.map(_.shuffleBytes).sum
  }

  private final class Recorder extends SparkListener {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val ends = new ConcurrentHashMap[Int, Long]
    val stages = new ConcurrentLinkedQueue[Stage]
    /** SQL execution id → the call site of the action that started it. */
    val sqlSites = new ConcurrentHashMap[Long, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description); ()
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      starts.add(e); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      ends.put(e.jobId, e.time); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      stages.add(Stage(si.stageId, si.name, si.numTasks, tm.executorRunTime,
        tm.executorCpuTime / 1000000L, tm.jvmGCTime,
        tm.shuffleWriteMetrics.bytesWritten,
        tm.shuffleWriteMetrics.recordsWritten, tm.diskBytesSpilled)); ()
    }
  }

  private def fsBytes(): Long =
    org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.iterator().asScala
      .flatMap(_.getLongStatistics.asScala)
      .filter(s => s.getName == "bytesRead" || s.getName == "bytesWritten")
      .map(_.getValue).sum

  /** Total length of the union of `[start, end)` intervals. */
  private def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total
  }

  /** Runs `body` and returns its result with what it cost. */
  def measure[A](spark: SparkSession)(body: => A): (A, Cost) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(rec)
    try {
      val ops0 = BenchFs.ops.get()
      val bytes0 = fsBytes()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      org.apache.spark.GraftBus.drain(sc)
      val jobs = rec.starts.asScala.toSeq.sortBy(_.jobId).map { e =>
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val desc = prop("spark.job.description").getOrElse("")
        // an AQE stage job runs on a pool thread, so its own call site
        // names the pool: take its SQL execution's, which is the
        // action's unless a label replaced it (then `desc` names the
        // job). Else the result stage, created last, is named after the
        // call site.
        val site = prop("callSite.short")
          .orElse(prop("spark.sql.execution.id").filter(_ => desc.isEmpty)
            .flatMap(id => Option(rec.sqlSites.get(id.toLong))))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        Job(e.jobId, e.time, rec.ends.getOrDefault(e.jobId, -1L),
          desc, site.getOrElse(""), e.stageInfos.map(_.numTasks).sum)
      }
      val busyMs = unionMs(jobs.map(j =>
        (math.max(j.startMs, ms0), if (j.endMs < 0) ms1 else math.min(j.endMs, ms1))))
      (result, Cost(wallS, jobs, rec.stages.asScala.toSeq,
        BenchFs.ops.get() - ops0, fsBytes() - bytes0, busyMs / 1e3))
    } finally sc.removeSparkListener(rec)
  }
}
