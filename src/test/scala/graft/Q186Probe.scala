package graft

import org.apache.spark.sql.functions._

/** Throwaway decomposition probe for q186 (edit-distance-1 join). */
object Q186Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"Q186T $label%-40s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          println(f"Q186S stage=${si.stageId}%4d tasks=${si.numTasks}%4d " +
            f"run=${tm.executorRunTime / 1e3}%7.2fs " +
            f"cpu=${tm.executorCpuTime / 1e9}%7.2fs " +
            f"outRows=${tm.outputMetrics.recordsWritten} " +
            f"shufR=${tm.shuffleReadMetrics.recordsRead} " +
            f"shufW=${tm.shuffleWriteMetrics.recordsWritten} " +
            si.name.take(60))
        }
      })
    val words = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_name").cast("string").as("_w"))
      .filter(col("_w").isNotNull).distinct()
    // warm the scan
    words.count(); words.count()
    time("full q186 warm") {
      println("  out=" + graft.ops.ApproxDedup.editDistance1Pairs(
        spark.read.parquet(s"$sfDir/customer.parquet").select(col("c_name")),
        "c_name").count())
    }
    time("full q186 timed (stages below)") {
      println("  out=" + graft.ops.ApproxDedup.editDistance1Pairs(
        spark.read.parquet(s"$sfDir/customer.parquet").select(col("c_name")),
        "c_name").count())
    }
    Thread.sleep(1000)
    spark.stop()
  }
}
