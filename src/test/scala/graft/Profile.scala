package graft

import org.apache.spark.sql.execution.{ExplainMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Per-query profiler (test scope, like VerifyProbe):
  *
  *   sbt -batch "Test/runMain graft.Profile q186,q195 before [runs]"
  *
  * For each query whose name starts with one of the comma-separated
  * prefixes it times `runs` (default 3) executions of Bench's action
  * (`count()` on a fresh frame) through [[Meter]], then writes the
  * executed plan, `explain("formatted")` plus an operator census, to
  * `plans/profile/<name>_<suffix>.txt`. Each run prints wall, jobs,
  * driver gap, gc/run/cpu/spill/shuffle, fs ops, the slowest stages
  * and the job timeline with the gap before each job: the attribution
  * a Bench median alone cannot give. Session and warmup are Bench's
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`, BenchFs), so the numbers
  * transfer. */
object Profile {
  /** Whole-stage-codegen stages in an executed plan. The AQE final-plan
    * string hides them, so this walks the tree, descending through AQE's
    * finalized plan and into query stages. */
  def countWsc(p: SparkPlan): Int = {
    val self = p match { case _: WholeStageCodegenExec => 1; case _ => 0 }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan) // stages hide their subtree from .children
      case s => s.children
    }
    self + kids.map(countWsc).sum
  }

  def main(args: Array[String]): Unit = {
    val sel = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val suffix = if (args.length > 1) args(1) else "before"
    val runs = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outDir = java.nio.file.Paths.get("plans/profile")
    java.nio.file.Files.createDirectories(outDir)
    System.setProperty("spark.hadoop.fs.file.impl", "graft.BenchFs")
    val spark = GraftSession.local(cpus.toInt)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => sel.exists(n.startsWith) }
    for ((name, fn) <- selected) {
      (1 to runs).foreach { i =>
        val (rows, c) = Meter.measure(spark)(fn(spark, sfDir).count())
        val ss = c.stages
        println(f"PROFILE $name%-24s run$i%02d wall=${c.wallS}%6.2fs " +
          f"jobs=${c.jobs.size}%3d driver=${c.driverS}%6.2fs " +
          f"gc=${ss.map(_.gcMs).sum}%6dms run=${ss.map(_.runMs).sum}%7dms " +
          f"cpu=${ss.map(_.cpuMs).sum}%7dms spillKB=${ss.map(_.spillBytes).sum / 1024}%6d " +
          f"shufKB=${c.shuffleBytes / 1024}%7d fsOps=${c.fsOps}%5d " +
          f"stages=${ss.size}%3d rows=$rows")
        ss.sortBy(-_.runMs).take(3).foreach(s =>
          println(f"  stage=${s.id}%5d tasks=${s.tasks}%4d run=${s.runMs}%6dms " +
            f"cpu=${s.cpuMs}%6dms gc=${s.gcMs}%5dms spillKB=${s.spillBytes / 1024}%6d " +
            f"shufKB=${s.shuffleBytes / 1024}%6d ${s.name.take(60)}"))
        // gap = time between the latest job end so far and this job's
        // start: driver-side work (planning, metadata, commit fences)
        var prevEnd = -1L
        c.jobs.sortBy(_.startMs).foreach { j =>
          val gap = if (prevEnd > 0) math.max(0L, j.startMs - prevEnd) else 0L
          val ms = if (j.endMs > 0) j.endMs - j.startMs else -1L
          if (j.endMs > 0) prevEnd = math.max(prevEnd, j.endMs)
          println(f"  job=${j.id}%5d ${ms}%6dms gap=${gap}%5dms tasks=${j.tasks}%4d " +
            f"${j.callSite.take(60)}%-60s ${j.description.take(90)}")
        }
        spark.catalog.clearCache()
      }
      // collect, not count: count() plans a different tree and leaves
      // this frame's AQE plan unfinalized and codegen-free
      val planTxt = try {
        val df = fn(spark, sfDir)
        df.collect()
        val exec = df.queryExecution.executedPlan
        val plan = exec.toString
        def n(op: String) = op.r.findAllIn(plan).size
        val census = s"exchanges=${n("Exchange")} bhj=${n("BroadcastHashJoin")} " +
          s"smj=${n("SortMergeJoin")} cart=${n("CartesianProduct")} wsc=${countWsc(exec)}"
        println(s"PLAN $name $census")
        s"$census\n\n" + df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      } catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), planTxt)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
