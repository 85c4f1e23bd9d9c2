package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Verification
import graft.sinks.Sinks
import graft.sources.InventoryReader

/** Module IV reads its three inventories once: `doubleCheck` returns
  * materialized verdict rows, which the summary and the result files
  * both read. */
class VerifyOnceSpec extends SparkSpec {

  /** An S3-inventory CSV of (key, size, mtime, etag) objects. */
  private def inventory(dir: String, objs: Seq[(String, Long, String, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "data-000.csv"), objs.map { case (k, n, t, e) =>
      Seq("b", k, n.toString, t, e, "STANDARD", "false", "")
        .map(f => "\"" + f + "\"").mkString(",")
    }.mkString("", "\n", "\n"))
  }

  private def read(dir: String): DataFrame =
    InventoryReader.goodRows(InventoryReader.readS3Inventory(spark, dir))
      .select(col("Key").as("key"), col("Size").as("size"),
        col("LastModifiedDate").as("mtime"), col("ETag").as("etag"))

  private val T = "2024-01-01T00:00:00.000Z"
  private val src = (1 to 6).map(i => (s"k$i", i * 10L, T, s"e$i"))
  // first read: k2 etag, k4 missing, k5 size; the second read adds k3's etag
  private val dst1 = src.filterNot(_._1 == "k4").map {
    case ("k2", n, t, _) => ("k2", n, t, "x2")
    case ("k5", n, t, e) => ("k5", n + 1, t, e)
    case o => o
  }
  private val dst2 = dst1.map { case ("k3", n, t, _) => ("k3", n, t, "x3"); case o => o }
  private val Final = Map("ok" -> 2L, "etag_mismatch" -> 1L, "missing_dest" -> 1L,
    "size_mismatch" -> 1L, "flapping" -> 1L)
  private val Summary = Map("ok" -> 3L, "etag_mismatch" -> 1L, "missing_dest" -> 1L,
    "size_mismatch" -> 1L)

  private def verify(root: String): DataFrame = {
    Seq("src" -> src, "dst1" -> dst1, "dst2" -> dst2)
      .foreach { case (n, objs) => inventory(s"$root/$n", objs) }
    Verification.doubleCheck(read(s"$root/src"), read(s"$root/dst1"),
      read(s"$root/dst2"), "key")
  }

  private def counts(df: DataFrame, c: String): Map[String, Long] =
    df.groupBy(c).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def results(v: DataFrame): DataFrame =
    Verification.resultRows(v, lit("2024-01-01 00:00:00").cast("timestamp"), lit(0L))

  test("the summary and the result write read the verdict rows, not the inventories") {
    val root = tmpDir("verifyonce")
    val v = verify(root)
    val summary = Verification.summary(v)
    assert(summary.inputFiles.isEmpty, summary.inputFiles.toSeq)
    assert(results(v).inputFiles.isEmpty, results(v).inputFiles.toSeq)
    val (n, summaryCost) = Meter.measure(spark) {
      summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(n == Summary)
    assert(summaryCost.jobs.size == 2, summaryCost.jobs.map(_.callSite))
    val (_, writeCost) = Meter.measure(spark) {
      Sinks.writePartitionedCsv(results(v), s"$root/results", "result")
    }
    assert(writeCost.jobs.size == 1, writeCost.jobs.map(_.callSite))
    assert(writeCost.shuffleBytes == 0)
  }

  test("verdicts are a point-in-time snapshot: counters and result files agree") {
    val root = tmpDir("verifysnap")
    val v = verify(root)
    // the destination changes after the call (an etag of the same
    // length, so the listed file size holds): k3 would now read ok
    inventory(s"$root/dst2", dst2.map { case ("k3", n, t, _) => ("k3", n, t, "e3"); case o => o })
    val summary = Verification.summary(v).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Sinks.writePartitionedCsv(results(v), s"$root/results", "result")
    val back = spark.read.option("header", "true").csv(s"$root/results")
    assert(summary == Summary)
    assert(counts(back, "verdict") == summary)
    assert(counts(back, "final_verdict") == Final)
    assert(counts(back, "result") ==
      Map("success" -> summary("ok"), "errors" -> (summary.values.sum - summary("ok"))))
  }
}
