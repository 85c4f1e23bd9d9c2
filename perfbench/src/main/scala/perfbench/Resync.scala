package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.exec.AzureDiffJob
import graft.sinks.VersionedStore
import graft.sources.InventoryReader

/** `resync`: Module I, incremental. Each round diffs the next Azure
  * inventory snapshot against the previous one, enqueues the events not
  * yet in the sent-ledger, replays the round (which must enqueue
  * nothing), applies the diff to an object-state ledger (a versioned
  * store keyed by Name, compacted every few deltas) and serves point
  * reads and a snapshot read from it. */
object Resync extends Workload {
  val Account = "acct"
  val MaxDeltas = 2
  val Lookups = 12
  private val Header =
    "Name,Creation-Time,Last-Modified,Etag,Content-Length,Content-MD5,BlobType,AccessTier,ArchiveStatus"

  private final case class Blob(name: String, created: String, modified: String, etag: String, size: Long)

  private def csv(b: Blob): String =
    Seq(b.name, b.created, b.modified, b.etag, b.size.toString, "", "BlockBlob", "Hot", "").mkString(",")

  private def snapshot(dir: Path, r: Int): Path = dir.resolve(f"snapshot-$r%02d.csv")

  def rounds(small: Boolean): Int = if (small) 1 else 8

  def generate(dir: Path, seed: Long, small: Boolean): Unit = {
    val n0 = if (small) 300 else 8000
    val r = Gen.rng(seed, "resync")
    var next = 0
    def ts(): String = java.time.Instant.ofEpochSecond(1600000000L + r.nextInt(50000000)).toString
    def fresh(): Blob = {
      next += 1
      val t = ts()
      Blob(f"container/dir${r.nextInt(50)}%02d/blob-$next%07d.dat", t, t, "0x" + Gen.randomHex(r, 8),
        math.exp(r.nextDouble() * math.log(1e9)).toLong)
    }
    // blobs in name order, so every snapshot file lists them the same way
    val cur = mutable.TreeMap.empty[String, Blob]
    (0 until n0).foreach { _ => val b = fresh(); cur(b.name) = b }
    Gen.writeLines(snapshot(dir, 0), Iterator(Header) ++ cur.valuesIterator.map(csv))
    val sent = mutable.Set.empty[(String, String)] // (name, event type) already enqueued
    val truth = mutable.Map.empty[String, Any]
    for (round <- 1 to rounds(small)) {
      val names = cur.keys.toIndexedSeq
      val picked = r.ints(0, names.size).distinct().limit(names.size * 3 / 200).toArray.map(names(_))
      val (updated, deleted) = picked.splitAt(picked.length * 2 / 3)
      val created = (0 until names.size / 100).map(_ => fresh())
      updated.foreach { n =>
        val b = cur(n)
        cur(n) = b.copy(modified = ts(), etag = "0x" + Gen.randomHex(r, 8), size = b.size + 1 + r.nextInt(1000))
      }
      deleted.foreach(cur.remove)
      created.foreach(b => cur(b.name) = b)
      Gen.writeLines(snapshot(dir, round), Iterator(Header) ++ cur.valuesIterator.map(csv))
      val events = (updated ++ created.map(_.name)).map(_ -> "created") ++ deleted.map(_ -> "deleted")
      val enqueued = events.count(e => !sent.contains(e))
      sent ++= events
      val p = f"r$round%02d"
      truth ++= Seq(s"$p.diff.rows" -> events.size, s"$p.diff.enqueued" -> enqueued,
        s"$p.replay.enqueued" -> 0, s"$p.replay.skipped" -> events.size,
        s"$p.read.rows" -> cur.size, s"$p.read.bytes" -> cur.valuesIterator.map(_.size).sum)
      // point reads: present blobs (their Etag) and deleted ones (absent)
      val present = (0 until Lookups * 3 / 4).map(_ => cur.keys.toIndexedSeq(r.nextInt(cur.size)))
      val gone = deleted.take(Lookups - present.size)
      present.foreach(n => truth(s"$p.lookup.$n") = cur(n).etag)
      gone.foreach(n => truth(s"$p.lookup.$n") = "absent")
    }
    Gen.writeTruth(dir, truth.toMap ++ Map("snapshot0.rows" -> n0, "rounds" -> rounds(small)))
  }

  def open(ctx: Ctx, in: Path): Runner = new Runner {
    private val spark = ctx.spark
    import spark.implicits._
    private val truth = Gen.readTruth(in)
    private val total = truth("rounds").toInt
    private val dir = ctx.freshDir("resync")
    private val ledger = dir.resolve("ledger").toString
    private val sentLedger = dir.resolve("sent").toString
    private val queueDir = dir.resolve("queue").toString
    private def inventory(r: Int) = InventoryReader.readAzureInventory(spark, snapshot(in, r).toString)
    private def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("Name"), col("Etag"), col("Content-Length"), col("Last-Modified"))

    // the object-state ledger starts from snapshot 0 (preparation)
    VersionedStore.upsert(stateOf(inventory(0)), Seq("Name"), ledger)

    override def exhausted(i: Int): Boolean = i >= total

    def round(i: Int): RoundOut = {
      val r = i + 1
      val p = f"r$r%02d"
      val t = Gen.section(truth, p)
      val diff = AzureDiffJob.diffSnapshots(inventory(r - 1), inventory(r), Account).cache()
      try {
        val (res, cDiff) = ctx.call("exec.AzureDiffJob.runWithDiff") {
          AzureDiffJob.runWithDiff(spark, diff, sentLedger, queueDir)
        }
        ctx.check(cDiff, Map("diff.rows" -> res.rows.toString, "diff.enqueued" -> res.enqueued.toString),
          t.filter(_._1.startsWith("diff.")))
        val (rep, cReplay) = ctx.call("exec.AzureDiffJob.replay") {
          AzureDiffJob.runWithDiff(spark, diff, sentLedger, queueDir)
        }
        ctx.check(cReplay, Map("replay.enqueued" -> rep.enqueued.toString,
          "replay.skipped" -> rep.skipped.toString), t.filter(_._1.startsWith("replay.")))

        val before = ctx.traced.map(_ => Layout.bytes(ledger))
        val (_, cApply) = ctx.call("sinks.VersionedStore.deltaApply") {
          val ops = diff.select(col("Name"), col("Etag"), col("Content-Length"), col("Last-Modified"),
            when(upper(col("Variance")) === "DELETE", lit("delete")).otherwise(lit("upsert")).as("op"))
          VersionedStore.deltaApply(ops, Seq("Name"), ledger, "op")
        }
        val applied = ctx.traced.map(_ => Layout.bytes(ledger))
        val epochBefore = VersionedStore.currentEpoch(ledger)
        val (_, cCompact) = ctx.call("sinks.VersionedStore.compactIfNeeded") {
          VersionedStore.compactIfNeeded(spark, ledger, MaxDeltas)
        }
        val compacted = VersionedStore.currentEpoch(ledger) > epochBefore

        val lookups = t.toSeq.filter(_._1.startsWith("lookup.")).sortBy(_._1).map { case (k, want) =>
          val name = k.stripPrefix("lookup.")
          val (rows, c) = ctx.call("sinks.VersionedStore.lookup") {
            VersionedStore.lookup(spark, ledger, Seq(name).toDF("Name")).select("Etag").collect()
          }
          ctx.check(c, Map(k -> rows.headOption.map(_.getString(0)).getOrElse("absent")), Map(k -> want))
          c.seconds
        }
        val (snap, cRead) = ctx.call("sinks.VersionedStore.read") {
          VersionedStore.read(spark, ledger).agg(count(lit(1)), sum(col("Content-Length"))).first()
        }
        ctx.check(cRead, Map("read.rows" -> snap.getLong(0).toString, "read.bytes" -> snap.getLong(1).toString),
          t.filter(_._1.startsWith("read.")))

        val roundS = Seq(cDiff, cReplay, cApply, cCompact).map(_.seconds).sum
        val storeDetail: Map[String, Seq[Double]] = (before, applied) match {
          case (Some(b0), Some(b1)) =>
            val b2 = Layout.bytes(ledger)
            val live = Layout.liveBytes(spark, ledger)
            Map("sinks.VersionedStore.deltaApply.mb_written" -> Seq((b1 - b0) / 1e6),
              "sinks.VersionedStore.write_amp" -> Seq((b2 - b0).toDouble / math.max(1L, b1 - b0)),
              "sinks.VersionedStore.compactIfNeeded.compactions" -> Seq(if (compacted) 1.0 else 0.0),
              "sinks.VersionedStore.compactIfNeeded.mb_rewritten" -> Seq((b2 - b1) / 1e6),
              "sinks.VersionedStore.space_amp" -> Seq(b2.toDouble / math.max(1L, live)))
          case _ => Map.empty
        }
        RoundOut(objects = t("diff.rows").toDouble, objectSeconds = cDiff.seconds, roundSeconds = roundS,
          detail = Map(
            "resync_round_s" -> Seq(roundS),
            "lat:lookup_ms" -> lookups.map(_ * 1e3),
            "sinks.VersionedStore.read.wall_s" -> Seq(cRead.seconds)) ++ storeDetail)
      } finally diff.unpersist()
    }
  }
}

/** Bytes a store occupies on disk, and the bytes its current snapshot
  * reads; their ratio is the space amplification. */
object Layout {
  def bytes(root: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def liveBytes(spark: org.apache.spark.sql.SparkSession, root: String): Long =
    VersionedStore.read(spark, root).inputFiles.map { f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))
    }.sum
}
