package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.connectors.{KeyedStore, QueueSource}

/** One recorded span: times are System.nanoTime; `parent` is 0 for a
  * root span. */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long)

final class OpenSpan(val id: Long, name: String, parent: Long, start: Long,
                     sink: ConcurrentLinkedQueue[Span]) {
  def end(): Unit = { sink.add(Span(id, name, parent, start, System.nanoTime())); () }
}

/** A Spark job as the traced run saw it, attributed to the span that was
  * open on the thread that submitted it. */
final class JobRec(val span: Long, val start: Long) {
  var end: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One streaming micro-batch that read input. */
final case class Batch(stream: String, durationMs: Long, stateRows: Long)

/** The traced run's recorder. Spans live in memory until the run ends.
  * The open span of a thread travels as a Spark local property, so jobs
  * (and stream threads started inside a span) inherit it; the job
  * listener and [[SpanFs]] read it to attribute jobs, task metrics and
  * fs ops. Only the traced run creates a Tracer, and it records only
  * between [[start]] and [[stop]]: outside them no listener is on the
  * bus and SpanFs attributes nothing. */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1L)
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  @volatile private var on = false
  def enabled: Boolean = on

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val fsOps = new ConcurrentHashMap[Long, LongAdder]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  def nanosOfMillis(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  /** The span open on the calling thread (0 = none). */
  def current: Long = Option(sc.getLocalProperty(SpanKey)).map(_.toLong).getOrElse(0L)

  /** Open a span that ends when its `end` is called (e.g. a stream's
    * lifetime); [[within]] makes it the span of code on this thread. */
  def begin(name: String): OpenSpan =
    new OpenSpan(ids.getAndIncrement(), name, current, System.nanoTime(), spans)

  /** Run `body` with `open` as the calling thread's span. */
  def within[T](open: OpenSpan)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, open.id.toString)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val o = begin(name)
      try within(o)(body) finally o.end()
    }

  /** A span measured by the caller (e.g. a request timed from when it
    * was due). */
  def record(name: String, parent: Long, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.getAndIncrement(), name, parent, start, end))

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.GraftBus.drain(sc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val rec = new JobRec(span, nanosOfMillis(e.time))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = nanosOfMillis(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  /** Record a stream's micro-batches from the query's own progress
    * reports. (A StreamingQueryListener on the host session would not see
    * them: the pipelines start their queries on a micro-batch session
    * clone, and listeners are per session.) */
  def addProgress(stream: String, q: StreamingQuery): Unit =
    if (enabled) q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      batches.add(Batch(stream,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.stateOperators.map(_.numRowsTotal).sum))
    }

  /** Make `open` the span of the calling thread for good — for threads
    * the benchmark does not start (a server's request threads), which
    * inherit no local properties. */
  def adopt(open: OpenSpan): Unit = sc.setLocalProperty(SpanKey, open.id.toString)

  /** Start recording: put the job listener on the bus and attribute fs
    * ops to spans. */
  def start(): Unit = {
    sc.addSparkListener(jobListener)
    SpanFs.tracer = this
    on = true
  }

  /** Stop recording once the bus has delivered the events posted so far
    * (the jobs of the traced code), and take the listener off the bus. */
  def stop(): Unit = {
    on = false
    SpanFs.tracer = null
    drain()
    sc.removeSparkListener(jobListener)
  }

  def countFsOp(): Unit = if (enabled) {
    val tc = TaskContext.get()
    val id =
      if (tc == null) current
      else Option(tc.getLocalProperty(SpanKey)).map(_.toLong).getOrElse(0L)
    fsOps.computeIfAbsent(id, _ => new LongAdder).increment()
  }

  def fsOpsOf(spanId: Long): Long = Option(fsOps.get(spanId)).map(_.sum).getOrElse(0L)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq
  def allBatches: Seq[Batch] = batches.asScala.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** `graft.BenchFs` (which keeps its global op count) plus attribution of
  * each Hadoop-API call to the span open on the calling driver thread or
  * the task's job. Installed as `fs.file.impl` by the traced run only,
  * and for the whole run (the JVM caches the filesystem): in untraced
  * rounds an op costs BenchFs's counter increment and a null test.
  * Like BenchFs it does not see the store's java.nio marker writes. */
class SpanFs extends graft.BenchFs {
  // BenchFs counts a LIST as one op although the local listStatus stats
  // every child; the same guard keeps this count equal to its count
  private val inList = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private def tick(): Unit = Option(SpanFs.tracer).foreach(_.countFsOp())

  override def getFileStatus(p: Path): FileStatus = {
    if (!inList.get()) tick()
    super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    tick()
    inList.set(java.lang.Boolean.TRUE)
    try super.listStatus(p)
    finally inList.set(java.lang.Boolean.FALSE)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    tick(); super.open(p, bufferSize)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    tick(); super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { tick(); super.delete(p, recursive) }
  override def mkdirs(p: Path): Boolean = { tick(); super.mkdirs(p) }
}

object SpanFs {
  @volatile var tracer: Tracer = _
}

/** Timing decorator around a queue connector: each enqueue is a span. */
final class TimedQueue(inner: QueueSource, tracer: Tracer) extends QueueSource {
  def readStream(spark: SparkSession): DataFrame = inner.readStream(spark)
  def enqueue(messages: DataFrame): Unit =
    tracer.span("connectors.QueueSource.enqueue")(inner.enqueue(messages))
}

/** Timing decorator around a keyed store: each upsert is a span. */
final class TimedStore(inner: KeyedStore, tracer: Tracer) extends KeyedStore {
  def upsert(batch: DataFrame, keyCols: Seq[String]): Unit =
    tracer.span("connectors.KeyedStore.upsert")(inner.upsert(batch, keyCols))
  def read(spark: SparkSession): Option[DataFrame] = inner.read(spark)
}
