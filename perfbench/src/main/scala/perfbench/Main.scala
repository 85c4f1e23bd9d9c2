package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

/** A workload: seeded inputs, and rounds that drive the program through
  * its public entry points and check the outputs against the truth. */
trait Workload {
  /** Write the inputs and `truth.json` into `dir`. `small` is the
    * self-test shape: the same generator at a few percent of the size. */
  def generate(dir: Path, seed: Long, small: Boolean): Unit

  /** Per-run state over generated inputs (untimed preparation). */
  def open(ctx: Ctx, in: Path): Runner
}

trait Runner {
  def round(i: Int): RoundOut
  /** True when the inputs hold no round `i` (the run then ends). */
  def exhausted(i: Int): Boolean = false
  def close(): Unit = ()
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "plan" -> Plan, "transfer" -> Transfer, "resync" -> Resync, "curate" -> Curate)
}

/** Benchmark main: `--workload --seed --seconds --trace --work --traces`.
  * Prints one detail line and, last, the result line the harness reads. */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traces: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("traces")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.all.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}"))
    if (args.trace) System.setProperty("spark.hadoop.fs.file.impl", "perfbench.SpanFs")

    val g0 = System.nanoTime()
    val full = args.work.resolve("full")
    wl.generate(full, args.seed, small = false)
    val generateS = (System.nanoTime() - g0) / 1e9

    // set-up: from JVM start until the session has run one untimed
    // warm-up round, less the input generation. The warm-up round runs on
    // the full inputs: after a warm-up on small inputs, the first round at
    // full size ran 5-35% slower than the rounds after it, by an amount
    // that varied from run to run. One set-up per run: it costs 30-45 s.
    val spark = graft.GraftSession.local(Cores)
    System.err.println(f"perfbench: session up ${sinceStart - generateS}%.3f s after JVM start " +
      f"(input generation ${generateS}%.3f s left out)")
    val warm = wl.open(new Ctx(spark, None, args.work.resolve("warm")), full)
    try warm.round(0) finally warm.close()
    val setupS = sinceStart - generateS

    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, tracer, args.work.resolve("run"))
    val runner = wl.open(ctx, full)
    ctx.counting = true

    val rounds = ArrayBuffer.empty[(RoundOut, Boolean, Long, Long)]
    var heapPeak = 0L
    var failedRounds = 0
    val start = System.nanoTime()
    // traced runs go traced/untraced/untraced/traced rounds, so a drift
    // across rounds cancels out of the tracing overhead
    val minRounds = if (args.trace) 4 else 1
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while ((elapsed < args.seconds || rounds.size < minRounds) && failedRounds < 3 &&
           !runner.exhausted(i)) {
      val traced = args.trace && (i % 4 == 0 || i % 4 == 3)
      if (traced) tracer.foreach(_.start())
      val r0 = System.nanoTime()
      try {
        val out = runner.round(i)
        rounds += ((out, traced, r0, System.nanoTime()))
        System.err.println(f"perfbench: round $i${if (traced) " (traced)" else ""}: " +
          f"${(System.nanoTime() - r0) / 1e9}%.3f s, program ${out.roundSeconds}%.3f s")
      } catch {
        case e: Throwable =>
          failedRounds += 1
          System.err.println(s"perfbench: round $i failed: $e")
      }
      if (traced) tracer.foreach(_.stop())
      heapPeak = math.max(heapPeak, retainedHeap())
      i += 1
    }
    runner.close()
    ctx.problems.foreach(p => System.err.println(s"perfbench: FAILED $p"))

    val untraced = rounds.filterNot(_._2).map(_._1)
    val measured = if (untraced.nonEmpty) untraced else rounds.map(_._1)
    val detail = Report.detail(rounds.map(r => (r._1, r._2)).toSeq)
    val failedFrac = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    var traceDetail = Seq.empty[(String, Double)]
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("peak_heap_mb", heapPeak / 1e6, "MB"),
        ("objects_per_s", Stats.median(measured.map(r => r.objects / r.objectSeconds).toSeq), "1/s"),
        ("round_p50_s", Stats.median(measured.map(_.roundSeconds).toSeq), "s"))
      else {
        val t = tracer.get
        val layers = Report.layers(t, rounds.toSeq, generateS, failedFrac)
        Report.writeTrace(args.traces, args.workload, args.seed, t, layers, detail)
        traceDetail = layers.byName
        layers.generic
      }

    println(Report.json(Map("workload" -> args.workload, "seed" -> args.seed,
      "rounds" -> rounds.size, "setup_s" -> setupS, "detail" -> (detail ++ traceDetail).toMap)))
    val attempted = math.max(1L, ctx.attempted)
    println(Report.json(Map(
      "correct" -> (ctx.failed == 0 && failedRounds == 0 && ctx.attempted > 0),
      "attempted" -> attempted,
      "failed" -> (ctx.failed + (if (ctx.attempted == 0) 1 else 0)),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    spark.stop()
  }

  def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after a full collection, in bytes. Spark's cleaner
    * releases broadcast and shuffle state asynchronously once a
    * collection has found their handles unreachable, so the heap is
    * collected, the cleaner given time, and collected again. */
  def retainedHeap(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
