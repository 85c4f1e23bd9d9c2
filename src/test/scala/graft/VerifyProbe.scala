package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Throwaway probe main (test scope) — rewritten per verify wave.
  * Wave: Module IV verifies once — `doubleCheck` materializes its
  * verdicts, which the summary and the result files then read; the
  * probe prints each step's jobs and the comparison plan's reused
  * exchanges. */
object VerifyProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    import graft.ops.Verification
    import graft.sources.InventoryReader

    val work = java.nio.file.Files.createTempDirectory("probe_verify").toString
    val r = new scala.util.Random(7)
    val src = (0 until 20000).map(i => (s"obj/$i", r.nextInt(1 << 20).toLong, r.nextInt(99)))
    def inventory(name: String, flip: Int => Boolean): String = {
      val dir = java.nio.file.Paths.get(work, name)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("data-000.csv"), src.iterator.map {
        case (k, n, e) =>
          Seq("b", k, n.toString, "2024-01-01T00:00:00.000Z",
            if (flip(e)) "x%02d".format(e) else "e%02d".format(e), "STANDARD", "false", "")
            .map(f => "\"" + f + "\"").mkString(",")
      }.mkString("", "\n", "\n"))
      dir.toString
    }
    def read(dir: String): DataFrame =
      InventoryReader.goodRows(InventoryReader.readS3Inventory(spark, dir))
        .select(col("Key").as("key"), col("Size").as("size"),
          col("LastModifiedDate").as("mtime"), col("ETag").as("etag"))
    val (s, d1, d2) = (inventory("src", _ => false), inventory("dst1", _ == 1),
      inventory("dst2", e => e == 1 || e == 2))

    // the comparison plan doubleCheck checkpoints, run here on its own
    val source = read(s)
    val v1 = Verification(source, read(d1), "key")
    val v2 = Verification(source, read(d2), "key").select(col("key"), col("verdict").as("r"))
    val lazyPlan = v1.join(v2, Seq("key"))
    lazyPlan.write.format("noop").mode("overwrite").save()
    val plan = lazyPlan.queryExecution.executedPlan.toString
    println(s"reused exchanges in the comparison plan: ${"ReusedExchange".r.findAllIn(plan).size}")
    println(plan)

    val (v, check) = Meter.measure(spark)(Verification.doubleCheck(read(s), read(d1), read(d2), "key"))
    val (sum, summary) = Meter.measure(spark)(Verification.summary(v).collect())
    val (_, write) = Meter.measure(spark) {
      graft.sinks.Sinks.writePartitionedCsv(
        Verification.resultRows(v, current_timestamp(), lit(0L)), s"$work/results", "result")
    }
    for ((n, c) <- Seq("doubleCheck" -> check, "summary" -> summary, "write" -> write))
      println(f"$n%-12s jobs ${c.jobs.size}%2d tasks ${c.jobs.map(_.tasks).sum}%3d " +
        f"shuffle ${c.shuffleBytes / 1e6}%.2f MB wall ${c.wallS}%.2f s")
    println(sum.map(r => s"${r.get(0)}=${r.get(1)}").sorted.mkString(" "))
    spark.stop()
  }
}
