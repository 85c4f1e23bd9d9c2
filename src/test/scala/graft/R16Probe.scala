package graft

/** Round-16 optimization probe (test scope, throwaway like VerifyProbe):
  *
  *   sbt -batch "Test/runMain graft.R16Probe q186,q76 before [runs]"
  *
  * For each selected query (prefix match against SparkEntry.queries):
  *   - writes `.explain("formatted")` to plans/r16/<name>_<suffix>.txt
  *   - times `runs` executions (count(), the bench's action) and prints
  *     per-run wall plus a per-JOB breakdown (job id, duration,
  *     description) of the fastest run, so multi-job queries (trainers,
  *     iterative CC, streaming maintainers) attribute their wall to
  *     specific actions instead of a single opaque number.
  *
  * Session: `GraftSession.local($SPARK_GRAFT_CPUS)`, as Bench builds it,
  * so the numbers transfer.
  */
object R16Probe {
  def main(args: Array[String]): Unit = {
    val sel = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val suffix = if (args.length > 1) args(1) else "before"
    val runs = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = java.nio.file.Paths.get("plans/r16")
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.local(cpus.toInt)
    // warmup identical to Bench
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    // per-job wall + description via listener
    case class J(id: Int, start: Long, var end: Long, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // hot NARROW stages: executor runtime concentrated on few tasks
    // (the AQE-coalesced-before-an-explosion signature q186 had)
    case class S(id: Int, tasks: Int, runMs: Long, cpuMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[S]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(js.jobId, J(js.jobId, js.time, -1L, d))
          order.add(js.jobId); ()
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val j = jobs.get(je.jobId)
          if (j != null) j.end = je.time
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = sc.stageInfo
          stages.add(S(si.stageId, si.numTasks,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.executorCpuTime / 1000000L)); ()
        }
      })

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => sel.exists(n.startsWith) }
    for ((name, fn) <- selected) {
      // plan dump (fresh frame so AQE starts clean)
      val planTxt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), planTxt)
      // timed runs, bench action (count), fresh frame per run
      var best = Double.MaxValue
      var bestJobs: Vector[(Int, Long, Long, String)] = Vector.empty
      var bestStages: Vector[S] = Vector.empty
      val walls = (1 to runs).map { _ =>
        order.clear(); jobs.clear(); stages.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) {
          best = sec
          import scala.jdk.CollectionConverters._
          bestJobs = order.asScala.toVector.flatMap { id =>
            Option(jobs.get(id)).map(j => (id, j.start, j.end, j.desc))
          }
          bestStages = stages.asScala.toVector
        }
        spark.catalog.clearCache()
        (sec, n)
      }
      bestStages.filter(s => s.runMs >= 300 && s.tasks <= 2)
        .foreach(s => println(
          f"R16S $name NARROW-HOT stage=${s.id} tasks=${s.tasks} run=${s.runMs}ms cpu=${s.cpuMs}ms"))
      println(f"R16Q $name%-28s runs=${walls.map(w => f"${w._1}%.2f").mkString(",")} rows=${walls.head._2}")
      val totJob =
        bestJobs.map(j => j._3 - j._2).filter(_ > 0).sum / 1e3
      println(f"R16J $name best=${best}%.2fs jobs=${bestJobs.size} jobwall=${totJob}%.2fs (sum, overlaps possible)")
      // gap timeline of the fastest run: time between a job's end and
      // the next job's start = driver-side work (planning, metadata,
      // commit fences) — the bench's driver_s, attributed per gap
      var prevEnd = -1L
      var gapTot = 0L
      bestJobs.foreach { case (id, st, en, d) =>
        val dd = if (d.length > 90) d.take(90) else d
        val ms = if (en > 0) en - st else -1L
        val gap = if (prevEnd > 0) st - prevEnd else 0L
        if (gap > 0) gapTot += gap
        if (en > 0) prevEnd = math.max(prevEnd, en)
        println(f"R16J   job=$id%4d ${ms}%6dms gap=${gap}%5dms $dd")
      }
      println(f"R16J $name gaps_total=${gapTot / 1e3}%.2fs")
    }
    spark.stop()
  }
}
