package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Pure arithmetic first (percentile rule, span self time, monitor lag),
  * then generator determinism, then one real round of every workload on
  * its small inputs, whose output checks must pass on the planted truth
  * and fail when any single truth value is wrong. Exits 1 on a failure. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else " — " + detail}")
  }

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.head)
    percentileRule()
    selfTime()
    monitorLag()
    determinism(work.resolve("gen"))
    checksCatchWrongTruth(work.resolve("run"))
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentileRule(): Unit = {
    val cases = Seq(9 -> None, 39 -> None, 40 -> Some(75.0), 99 -> Some(75.0), 100 -> Some(90.0),
      200 -> Some(95.0), 999 -> Some(95.0), 1000 -> Some(99.0), 10000 -> Some(99.9))
    cases.foreach { case (n, want) =>
      expect(s"percentile rule: n=$n reports ${want.getOrElse("no tail")}", Stats.tailPercentile(n) == want,
        s"got ${Stats.tailPercentile(n)}")
    }
    // the reported tail always leaves >= 10 samples beyond it
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        if (n.toLong * (1000 - math.round(p * 10)) < 10000L)
          expect(s"percentile rule: n=$n p$p leaves 10 beyond", ok = false)
      }
    }
    val l = Stats.latency((1 to 100).map(_.toDouble))
    expect("latency of 1..100: p50 50.5, p90 90.1, n 100",
      l.p50 == 50.5 && l.tailP.contains(90.0) && math.abs(l.tail.get - 90.1) < 1e-9 && l.n == 100, l.toString)
  }

  def selfTime(): Unit = {
    expect("union of overlapping, nested and disjoint intervals",
      Stats.unionLength(Seq((10L, 30L), (20L, 40L), (25L, 26L), (50L, 60L))) == 40L)
    expect("union ignores empty intervals", Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    // parent [0,100): children [10,30) and [20,40) overlap; [90,120) runs past the end
    val self = Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L)))
    expect("self time = duration minus the union of children inside it", self == 60L, s"got $self")
    expect("self time with no children is the duration", Stats.selfTime(5L, 9L, Nil) == 4L)
  }

  def monitorLag(): Unit = {
    // commits at 100/200/300 ms leave 10/25/40 attempts logged; the
    // epoch at 50 already totals 40 but precedes every commit
    val commits = Seq((200L, 25L), (100L, 10L), (300L, 40L))
    val epochs = Seq((150L, 10L), (250L, 20L), (260L, 25L), (400L, 40L), (50L, 40L))
    val lags = Stats.monitorLags(commits, epochs)
    expect("monitor lag: first covering epoch at or after each commit", lags == Seq(50L, 60L, 100L),
      s"got $lags")
    expect("monitor lag: a commit no epoch covers is left out",
      Stats.monitorLags(Seq((100L, 10L), (500L, 99L)), epochs) == Seq(50L))
  }

  private def files(dir: Path): Map[String, Array[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).toMap
    finally s.close()
  }

  def determinism(dir: Path): Unit =
    Workloads.all.toSeq.sortBy(_._1).foreach { case (name, w) =>
      w.generate(dir.resolve(s"$name-a"), 7L, small = true)
      w.generate(dir.resolve(s"$name-b"), 7L, small = true)
      w.generate(dir.resolve(s"$name-c"), 8L, small = true)
      val (a, b, c) = (files(dir.resolve(s"$name-a")), files(dir.resolve(s"$name-b")), files(dir.resolve(s"$name-c")))
      expect(s"$name: one seed writes byte-identical inputs twice",
        a.keySet == b.keySet && a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) })
      expect(s"$name: another seed writes different inputs",
        a.keySet != c.keySet || a.exists { case (k, v) => !java.util.Arrays.equals(v, c(k)) })
      expect(s"$name: a truth file sits beside the inputs", a.contains("truth.json"))
    }

  def checksCatchWrongTruth(dir: Path): Unit = {
    val spark = graft.GraftSession.local(Main.Cores)
    try Workloads.all.toSeq.sortBy(_._1).foreach { case (name, w) =>
      val in = dir.resolve(s"$name-in")
      w.generate(in, 3L, small = true)
      val ctx = new Ctx(spark, None, dir.resolve(s"$name-work"))
      ctx.counting = true
      val runner = w.open(ctx, in)
      try runner.round(0) finally runner.close()
      expect(s"$name: every output check passes on the planted truth",
        ctx.failed == 0 && ctx.checks.nonEmpty, ctx.problems.mkString("; "))
      val keys = ctx.checks.flatMap { case (call, observed, truth) =>
        truth.keys.map { k =>
          val wrong = truth.updated(k, truth(k) + "0")
          (s"$call/$k", Checks.mismatches(observed, wrong).nonEmpty)
        }
      }
      val missed = keys.filterNot(_._2).map(_._1)
      expect(s"$name: each of ${keys.size} checked truth values fails its check when wrong",
        keys.nonEmpty && missed.isEmpty, missed.mkString(", "))
    } finally spark.stop()
  }
}
