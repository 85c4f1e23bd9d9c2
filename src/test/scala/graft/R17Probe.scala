package graft

/** Round-17 optimization probe (test scope, throwaway like R16Probe):
  *
  *   sbt -batch "Test/runMain graft.R17Probe q195,q186 before [runs]"
  *
  * For each selected query (prefix match against SparkEntry.queries):
  *   - writes `.explain("formatted")` to plans/r17/<name>_<suffix>.txt
  *   - times `runs` executions (count(), the bench's action) and prints
  *     per-run wall PLUS per-run GC time (sum of task jvmGCTime) and
  *     executor run/cpu totals — the attribution the round-16 verdict
  *     asked for on the stochastic 32-core stalls (GC vs spill vs
  *     scheduler: a stall with flat cpu and high gc is collector
  *     pressure; flat gc and runTime >> cpuTime is blocking I/O or
  *     scheduler; nothing elevated is a driver-side gap).
  */
object R17Probe {
  def main(args: Array[String]): Unit = {
    val sel = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val suffix = if (args.length > 1) args(1) else "before"
    val runs = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = java.nio.file.Paths.get("plans/r17")
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.local(cpus.toInt)
    // warmup identical to Bench
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    // per-stage task metrics: gc, run, cpu, shuffle write, spill, tasks
    case class S(id: Int, tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
                 shufB: Long, spillB: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[S]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          stages.add(S(si.stageId, si.numTasks, tm.executorRunTime,
            tm.executorCpuTime / 1000000L, tm.jvmGCTime,
            tm.shuffleWriteMetrics.bytesWritten, tm.diskBytesSpilled)); ()
        }
      })

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => sel.exists(n.startsWith) }
    for ((name, fn) <- selected) {
      val planTxt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), planTxt)
      import scala.jdk.CollectionConverters._
      (1 to runs).foreach { i =>
        stages.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val ss = stages.asScala.toVector
        val gc = ss.map(_.gcMs).sum
        val run = ss.map(_.runMs).sum
        val cpu = ss.map(_.cpuMs).sum
        val spill = ss.map(_.spillB).sum
        val shuf = ss.map(_.shufB).sum
        println(f"R17Q $name%-24s run$i%02d wall=${sec}%6.2fs gc=${gc}%6dms " +
          f"exec=${run}%7dms cpu=${cpu}%7dms spill=${spill / 1024}%6dKB " +
          f"shufKB=${shuf / 1024}%7d stages=${ss.size}%3d rows=$n")
        // slowest stages of each run, for attribution
        ss.sortBy(-_.runMs).take(3).filter(_.runMs > 200).foreach(s =>
            println(f"R17S   stage=${s.id}%5d tasks=${s.tasks}%3d " +
              f"run=${s.runMs}%6dms cpu=${s.cpuMs}%6dms gc=${s.gcMs}%5dms " +
              f"spillKB=${s.spillB / 1024}%6d"))
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
