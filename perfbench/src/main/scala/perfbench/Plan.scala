package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.exec.ListProducerJob
import graft.functions.MultipartEtag
import graft.ops.Verification
import graft.sinks.Sinks
import graft.sources.InventoryReader

/** `plan`: Module 0 and Module IV as a batch — checksum validation,
  * ListProducer (scan, histogram, fan-out, job.json), double-read
  * verification with result files, and multipart-ETag recompute. */
object Plan extends Workload {
  val PartSize = 1 << 20
  val Queues = 4
  val BatchSize = 100
  val Verdicts = Seq("ok", "missing_dest", "size_mismatch", "mtime_mismatch", "etag_mismatch")

  private final case class Obj(key: String, size: Long, mtime: String, etag: String,
                               multipart: Boolean)

  private def row(bucket: String, o: Obj): String =
    Seq(bucket, URLEncoder.encode(o.key, UTF_8), o.size.toString, o.mtime, o.etag,
      "STANDARD", o.multipart.toString, if (o.size % 3 == 0) "COMPLETED" else "")
      .map(f => "\"" + f + "\"").mkString(",")

  def generate(dir: Path, seed: Long, small: Boolean): Unit = {
    val shards = if (small) 2 else 8
    val perShard = if (small) 400 else 7500
    val blobs = if (small) 3 else 24
    val r = Gen.rng(seed, "plan")
    val words = Seq("report", "final draft", "données", "a+b", "50% off", "img", "log",
      "2019/q3", "backup (1)", "naïve", "日本")
    def key(i: Int): String =
      s"${words(r.nextInt(words.size))}/${r.nextInt(100)}/obj $i-${words(r.nextInt(words.size))}.bin"
    // sizes log-uniform over 1 B .. 2e10 B: every histogram band, and >5e9
    def size(): Long = math.exp(r.nextDouble() * math.log(2e10)).toLong
    def mtime(): String =
      java.time.Instant.ofEpochSecond(1500000000L + r.nextInt(100000000)).toString
        .replace("Z", ".000Z")
    val objs = (0 until shards * perShard).map { i =>
      Obj(key(i), size(), mtime(), Gen.randomHex(r, 16), r.nextBoolean())
    }
    // ~0.1% malformed rows (a non-numeric Size), placed among the good ones
    val corrupt = (0 until shards * perShard).filter(_ => r.nextInt(1000) == 0).toSet
    var inventoryBytes = 0L
    val manifestFiles = (0 until shards).map { s =>
      val name = f"data-$s%03d.csv.gz"
      val lines = (s * perShard until (s + 1) * perShard).iterator.map { i =>
        val o = objs(i)
        if (corrupt(i)) row("src-bucket", o).replace("\"" + o.size + "\"", "\"12x" + o.size + "\"")
        else row("src-bucket", o)
      }
      val p = dir.resolve("inventory").resolve(name)
      Gen.writeGzipLines(p, lines)
      val bytes = Files.readAllBytes(p)
      inventoryBytes += bytes.length
      s"""    {"key": "inventory/$name", "size": ${bytes.length}, "MD5checksum": "${Gen.hex(Gen.md5(bytes))}"}"""
    }
    Files.writeString(dir.resolve("manifest.json"),
      s"""{
         |  "sourceBucket": "src-bucket",
         |  "destinationBucket": "arn:aws:s3:::inventory-bucket",
         |  "version": "2016-11-30",
         |  "fileFormat": "CSV",
         |  "fileSchema": "Bucket, Key, Size, LastModifiedDate, ETag, StorageClass, IsMultipartUploaded, ReplicationStatus",
         |  "files": [
         |${manifestFiles.mkString(",\n")}
         |  ]
         |}
         |""".stripMargin)

    // destination inventories for the double read: ~1% each of missing,
    // size, mtime and etag mismatches, a few flapping rows (ok at the
    // first read, an etag mismatch at the second), and some objects
    // only the destination holds
    val good = objs.indices.filterNot(corrupt).map(objs)
    val cls = good.map { _ =>
      r.nextInt(1000) match {
        case x if x < 10 => "missing_dest"
        case x if x < 20 => "size_mismatch"
        case x if x < 30 => "mtime_mismatch"
        case x if x < 40 => "etag_mismatch"
        case x if x < 43 => "flapping"
        case _ => "ok"
      }
    }
    def dstObj(o: Obj, c: String, second: Boolean): Option[Obj] = c match {
      case "missing_dest" => None
      case "size_mismatch" => Some(o.copy(size = o.size + 1))
      case "mtime_mismatch" => Some(o.copy(mtime = o.mtime.replace(".000Z", ".001Z")))
      case "etag_mismatch" => Some(o.copy(etag = o.etag.reverse))
      case "flapping" if second => Some(o.copy(etag = o.etag.reverse))
      case _ => Some(o)
    }
    val extra = (0 until good.size / 200).map(i => Obj(s"dst-only/$i", 1L, mtime(), "0" * 32, false))
    for ((snap, second) <- Seq("dst1" -> false, "dst2" -> true)) {
      val rows = good.zip(cls).flatMap { case (o, c) => dstObj(o, c, second) } ++ extra
      rows.grouped(math.max(1, rows.size / shards + 1)).zipWithIndex.foreach { case (g, s) =>
        Gen.writeGzipLines(dir.resolve(snap).resolve(f"data-$s%03d.csv.gz"),
          g.iterator.map(row("dst-bucket", _)))
      }
    }

    // staged blobs whose sizes straddle the part boundaries
    val blobSizes = (0 until blobs).map { i =>
      val k = i % 4
      val d = Seq(-1, 0, 1, 1 + r.nextInt(PartSize / 2))(i / 4 % 4)
      math.max(1, k * PartSize + d)
    }
    val etags = blobSizes.zipWithIndex.map { case (n, i) =>
      val bytes = new Array[Byte](n); r.nextBytes(bytes)
      val name = f"blob-$i%03d.bin"
      val p = dir.resolve("blobs").resolve(name)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      name -> referenceEtag(bytes)
    }

    val hist = ListProducerJob.BucketNames.map { case (n, t) => s"hist.$n" -> good.count(_.size <= t) }
    val first = cls.map(c => if (c == "flapping") "ok" else c)
    Gen.writeTruth(dir, Map(
      "validate.ok" -> shards,
      "run.corrupt_rows" -> corrupt.size,
      "run.total_objects" -> good.size,
      "run.messages" -> messageCount(good.map(_.key)),
      "verify.rows" -> good.size,
      "inventory.bytes" -> inventoryBytes,
      "blobs.bytes" -> blobSizes.map(_.toLong).sum) ++
      hist.map { case (k, v) => s"run.$k" -> v } ++
      hist.map { case (k, v) => s"jobjson.$k" -> v } ++
      Seq("jobjson.totalObjects" -> good.size) ++
      Verdicts.map(v => s"summary.$v" -> first.count(_ == v)) ++
      (Verdicts :+ "flapping").map(v => s"final.$v" -> cls.count(_ == v)) ++
      Seq("result.success" -> first.count(_ == "ok"), "result.errors" -> first.count(_ != "ok")) ++
      etags.map { case (n, e) => s"etag.$n" -> e })
  }

  /** The benchmark's own multipart-ETag digest: the plain MD5 for a
    * single-part object, else MD5 of the concatenated part MD5s plus
    * "-parts". */
  def referenceEtag(bytes: Array[Byte]): String = {
    val parts = (bytes.length + PartSize - 1) / PartSize
    if (parts <= 1) Gen.hex(Gen.md5(bytes))
    else {
      val cat = (0 until parts).flatMap { p =>
        Gen.md5(java.util.Arrays.copyOfRange(bytes, p * PartSize,
          math.min(bytes.length, (p + 1) * PartSize)))
      }.toArray
      Gen.hex(Gen.md5(cat)) + "-" + parts
    }
  }

  /** Messages the fan-out writes: per queue (Spark's Murmur3 hash of the
    * decoded key, seed 42, absolute, mod queues), ceil(objects / batch). */
  def messageCount(keys: Seq[String]): Long = {
    val perQueue = keys.groupBy { k =>
      val b = k.getBytes(UTF_8)
      val h = Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42)
      math.floorMod(math.abs(h.toLong), Queues.toLong)
    }
    perQueue.values.map(ks => (ks.size + BatchSize - 1) / BatchSize).sum.toLong
  }

  def open(ctx: Ctx, in: Path): Runner = new Runner {
    private val spark = ctx.spark
    private val truth = Gen.readTruth(in)
    private def t(s: String) = Gen.section(truth, s)

    private def inventory(glob: String): DataFrame =
      InventoryReader.goodRows(InventoryReader.readS3Inventory(spark, glob))
        .select(col("Key").as("key"), col("Size").as("size"),
          col("LastModifiedDate").as("mtime"), col("ETag").as("etag"))

    def round(i: Int): RoundOut = {
      val out = ctx.freshDir("plan")
      val (statuses, cValidate) = ctx.call("sources.InventoryReader.validateChecksums") {
        val files = InventoryReader.manifestFiles(
          InventoryReader.readManifest(spark, in.resolve("manifest.json").toString))
        InventoryReader.validateChecksums(spark, files, in.resolve("inventory").toString)
          .groupBy("checksum_status").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      ctx.check(cValidate, statuses.map { case (k, v) => k -> v.toString }, t("validate"))

      val jobJson = out.resolve("job.json")
      val (res, cRun) = ctx.call("exec.ListProducerJob.run") {
        ListProducerJob.run(spark, in.resolve("manifest.json").toString,
          in.resolve("inventory").toString, jobJson.toString,
          out.resolve("queue").toString, "dst-bucket", Queues, BatchSize)
      }
      ctx.checking {
        val js = Gen.mapper.readTree(jobJson.toFile).get("statistics")
        ctx.check(cRun, Map("corrupt_rows" -> res.corruptRows.toString,
          "total_objects" -> res.totalObjects.toString, "messages" -> res.messages.toString) ++
          ListProducerJob.BucketNames.map { case (n, _) => s"hist.$n" -> js.get(n).asText },
          t("run"))
        ctx.check(cRun, (("totalObjects", js.get("totalObjects").asText) +:
          ListProducerJob.BucketNames.map { case (n, _) => s"hist.$n" -> js.get(n).asText }).toMap,
          t("jobjson"))
      }

      val (summary, cVerify) = ctx.call("ops.Verification.doubleCheck") {
        val v = Verification.doubleCheck(inventory(in.resolve("inventory").toString),
          inventory(in.resolve("dst1").toString), inventory(in.resolve("dst2").toString), "key")
        (v, Verification.summary(v).collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      val results = out.resolve("results").toString
      val (_, cWrite) = ctx.call("sinks.Sinks.writePartitionedCsv") {
        Sinks.writePartitionedCsv(
          Verification.resultRows(summary._1, lit("2024-01-01 00:00:00").cast("timestamp"), lit(0L)),
          results, "result")
      }
      ctx.check(cVerify, Verdicts.map(v => v -> summary._2.getOrElse(v, 0L).toString).toMap,
        t("summary"))
      ctx.checking {
        val back = spark.read.option("header", "true").csv(results)
        val byResult = back.groupBy("result").count().collect()
          .map(r => r.getString(0) -> r.getLong(1).toString).toMap
        val byFinal = back.groupBy("final_verdict").count().collect()
          .map(r => r.getString(0) -> r.getLong(1).toString).toMap
        ctx.check(cWrite, byResult, t("result"))
        ctx.check(cVerify, (Verdicts :+ "flapping").map(v => v -> byFinal.getOrElse(v, "0")).toMap,
          t("final"))
      }

      val (etags, cEtag) = ctx.call("functions.MultipartEtag.etagOfFiles") {
        MultipartEtag.etagOfFiles(spark, in.resolve("blobs").toString, PartSize)
          .collect().map(r => r.getString(0).split('/').last -> r.getString(1)).toMap
      }
      ctx.check(cEtag, etags, t("etag"))

      val rows = truth("run.total_objects").toDouble
      val verifyS = cVerify.seconds + cWrite.seconds
      val roundS = Seq(cValidate, cRun, cVerify, cWrite, cEtag).map(_.seconds).sum
      RoundOut(objects = rows, objectSeconds = cRun.seconds, roundSeconds = roundS,
        detail = Map(
          "plan_objects_per_s" -> Seq(rows / cRun.seconds),
          "verify_objects_per_s" -> Seq(truth("verify.rows").toDouble / verifyS),
          "etag_mb_per_s" -> Seq(truth("blobs.bytes").toDouble / 1e6 / cEtag.seconds),
          "sources.InventoryReader.validateChecksums.mb_per_s" -> Seq(truth("inventory.bytes").toDouble / 1e6 / cValidate.seconds)))
    }
  }
}
