package perfbench

import java.nio.file.{Files, Path}

/** Turns rounds and the trace into the printed metrics. */
object Report {

  /** The workload's own metrics. A detail key names per-round values
    * (reported as their median over rounds) unless it starts with
    * "lat:", which marks per-request latency samples: those are pooled
    * and reported as a median plus the highest percentile with at least
    * ten samples beyond it, with the sample count. Keys are taken from
    * untraced rounds where they occur there, else from traced rounds. */
  def detail(rounds: Seq[(RoundOut, Boolean)]): Seq[(String, Double)] = {
    val keys = rounds.flatMap(_._1.detail.keys).distinct.sorted
    keys.flatMap { k =>
      val plain = rounds.filterNot(_._2).flatMap(_._1.detail.get(k))
      val samples = (if (plain.nonEmpty) plain else rounds.flatMap(_._1.detail.get(k))).flatten
      if (samples.isEmpty) Nil
      else if (k.startsWith("lat:")) {
        val base = k.stripPrefix("lat:")
        val (stem, unit) = base.splitAt(base.lastIndexOf('_'))
        val l = Stats.latency(samples)
        Seq(s"${stem}_p50$unit" -> l.p50, s"${stem}_n" -> l.n.toDouble) ++
          l.tailP.zip(l.tail).map { case (p, v) =>
            s"${stem}_p${if (p == p.floor) p.toInt.toString else p.toString}$unit" -> v
          }
      } else Seq(k -> Stats.median(samples))
    }
  }

  /** Per-span-name statistics from the trace, and the generic per-layer
    * metrics printed on the result line. */
  final case class Layers(generic: Seq[(String, Double, String)],
                          byName: Seq[(String, Double)])

  def layers(t: Tracer, rounds: Seq[(RoundOut, Boolean, Long, Long)],
             generateS: Double, failedFrac: Double): Layers = {
    val spans = t.allSpans
    val jobs = t.allJobs.filter(_.end >= 0)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobsBySpan = jobs.groupBy(_.span)

    final case class Cost(wall: Double, self: Double, jobs: Int, tasks: Long, cpuS: Double,
                          gcS: Double, shuffleMb: Double, spillMb: Double,
                          driverS: Double, fsOps: Long)
    def cost(s: Span): Cost = {
      val ids = subtree(s).map(_.id)
      val js = ids.flatMap(id => jobsBySpan.getOrElse(id, Nil))
      val busy = Stats.unionLength(Stats.clip(js.map(j => (j.start, j.end)), s.start, s.end))
      Cost(
        wall = (s.end - s.start) / 1e9,
        self = Stats.selfTime(s.start, s.end,
          children.getOrElse(s.id, Nil).map(c => (c.start, c.end))) / 1e9,
        jobs = js.size, tasks = js.map(_.tasks).sum, cpuS = js.map(_.cpuNs).sum / 1e9,
        gcS = js.map(_.gcMs).sum / 1e3, shuffleMb = js.map(_.shuffleBytes).sum / 1e6,
        spillMb = js.map(_.spillBytes).sum / 1e6,
        driverS = (s.end - s.start - busy) / 1e9, fsOps = ids.map(t.fsOpsOf).sum)
    }

    // per span name: medians per call
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val cs = ss.map(cost)
      def med(f: Cost => Double) = Stats.median(cs.map(f))
      Seq(s"$name.calls" -> cs.size.toDouble, s"$name.wall_s" -> med(_.wall),
        s"$name.self_s" -> med(_.self), s"$name.jobs" -> med(_.jobs.toDouble),
        s"$name.tasks" -> med(_.tasks.toDouble), s"$name.task_cpu_s" -> med(_.cpuS),
        s"$name.gc_s" -> med(_.gcS), s"$name.shuffle_mb" -> med(_.shuffleMb),
        s"$name.spill_mb" -> med(_.spillMb), s"$name.driver_s" -> med(_.driverS),
        s"$name.fs_ops" -> med(_.fsOps.toDouble))
    }
    val streams = t.allBatches.groupBy(_.stream).toSeq.sortBy(_._1).flatMap { case (name, bs) =>
      val streamSpans = spans.filter(_.name == name)
      val c = streamSpans.map(cost)
      val n = bs.size.toDouble
      val durs = bs.map(_.durationMs / 1e3)
      // driver time of a stream: its batches' time outside its jobs
      val driver = durs.sum - c.map(x => x.wall - x.driverS).sum
      Seq(s"$name.batches" -> n / math.max(1, streamSpans.size),
        s"$name.batch_p50_s" -> Stats.median(durs), s"$name.batch_p90_s" -> Stats.percentile(durs, 90),
        s"$name.jobs_per_batch" -> c.map(_.jobs).sum / n,
        s"$name.fs_ops_per_batch" -> c.map(_.fsOps).sum / n,
        s"$name.driver_s_per_batch" -> math.max(0.0, driver) / n,
        s"$name.state_rows" -> bs.map(_.stateRows.toDouble).max)
    }

    // generic metrics over the traced rounds: program spans are the
    // roots other than the benchmark's own checks
    val traced = rounds.filter(_._2)
    val perRound = traced.map { case (_, _, r0, r1) =>
      val roots = spans.filter(s => s.parent == 0 && s.start >= r0 && s.start < r1)
      val prog = roots.filterNot(_.name == "bench.check").map(cost)
      val covered = Stats.unionLength(Stats.clip(roots.map(s => (s.start, s.end)), r0, r1))
      (prog, (r1 - r0 - covered) / 1e9)
    }
    def perRoundMedian(f: Seq[Cost] => Double): Double = Stats.median(perRound.map(p => f(p._1)))
    val untracedWall = rounds.filterNot(_._2).map(_._1.roundSeconds)
    val tracedWall = traced.map(_._1.roundSeconds)
    val overhead =
      if (untracedWall.isEmpty || tracedWall.isEmpty) 0.0
      else Stats.median(tracedWall) / Stats.median(untracedWall) - 1.0
    val generic = Seq(
      ("spark.jobs_per_round", perRoundMedian(_.map(_.jobs.toDouble).sum), "count"),
      ("spark.tasks_per_round", perRoundMedian(_.map(_.tasks.toDouble).sum), "count"),
      ("spark.task_cpu_s_per_round", perRoundMedian(_.map(_.cpuS).sum), "s"),
      ("spark.gc_s_per_round", perRoundMedian(_.map(_.gcS).sum), "s"),
      ("spark.shuffle_mb_per_round", perRoundMedian(_.map(_.shuffleMb).sum), "MB"),
      ("fs.ops_per_round", perRoundMedian(_.map(_.fsOps.toDouble).sum), "count"),
      ("driver_s_per_round", perRoundMedian(_.map(_.driverS).sum), "s"),
      ("bench.unattributed_s", Stats.median(perRound.map(_._2)), "s"),
      ("bench.trace_overhead_frac", overhead, "frac"),
      ("bench.generate_s", generateS, "s"),
      ("failed_ops_frac", failedFrac, "frac"))
    Layers(generic, byName ++ streams)
  }

  /** Spans and layer metrics of a traced run, written when it ends. */
  def writeTrace(dir: Path, workload: String, seed: Long, t: Tracer, l: Layers,
                 detail: Seq[(String, Double)]): Unit = {
    Files.createDirectories(dir)
    val spans = t.allSpans.sortBy(_.start).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end))
    Files.writeString(dir.resolve(s"$workload-seed$seed.json"), json(Map(
      "workload" -> workload, "seed" -> seed,
      "metrics" -> (l.generic.map(g => g._1 -> g._2) ++ l.byName ++ detail).toMap,
      "spans" -> spans)) + "\n")
    ()
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers;
    * map keys are sorted so the output is stable. */
  def json(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => Gen.jsonString(k) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => Gen.jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case x => Gen.jsonString(x.toString)
  }
}
