package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.VersionedStore

/** The MVCC store's contracts: epoch visibility is a single atomic
  * commit-marker rename (history is never rewritten), every committed
  * snapshot stays byte-exact under later writes, CDC reads only
  * changed buckets, vacuum never breaks a retained snapshot, and an
  * upsert is ONE staging job regardless of touched-bucket count. */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ks: Seq[Long], v: Long => Long): DataFrame =
    ks.map(k => (k, v(k))).toDF("k", "v")

  /** Four-epoch store over keys 1..45 (+50..52): e1 load 1..40, e2
    * upsert 30..45 (updates+inserts), e3 delete multiples of 4, e4
    * insert 50..52. */
  private def build(root: String): Unit = {
    assert(VersionedStore.upsert(rows(1L to 40L, _ * 10), Seq("k"), root) == 1L)
    assert(VersionedStore.upsert(rows(30L to 45L, _ * 10 + 1), Seq("k"), root) == 2L)
    assert(VersionedStore.delete(
      (1L to 45L).filter(_ % 4 == 0).toDF("k"), root) == 3L)
    assert(VersionedStore.upsert(rows(50L to 52L, _ * 10), Seq("k"), root) == 4L)
  }

  private def s1 = (1L to 40L).map(k => (k, k * 10))
  private def s2 = (1L to 29L).map(k => (k, k * 10)) ++
    (30L to 45L).map(k => (k, k * 10 + 1))
  private def s3 = s2.filterNot(_._1 % 4 == 0)
  private def s4 = s3 ++ (50L to 52L).map(k => (k, k * 10))

  private def readSet(root: String, e: Long): Seq[(Long, Long)] =
    VersionedStore.readAsOf(spark, root, e).as[(Long, Long)]
      .collect().toSeq.sorted

  test("time travel: every epoch's snapshot stays byte-exact after later writes") {
    val root = tmpDir("vstore_tt") + "/store"
    build(root)
    assert(VersionedStore.currentEpoch(root) == 4L)
    assert(readSet(root, 1) == s1.sorted)
    assert(readSet(root, 2) == s2.sorted)
    assert(readSet(root, 3) == s3.sorted)
    assert(readSet(root, 4) == s4.sorted)
    // epoch 0 = before anything: empty, with the store's schema
    val e0 = VersionedStore.readAsOf(spark, root, 0)
    assert(e0.count() == 0 && e0.columns.toSeq == Seq("k", "v"))
    // current read == newest snapshot
    assert(VersionedStore.read(spark, root).as[(Long, Long)]
      .collect().toSeq.sorted == s4.sorted)
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, root, 5)
    }
  }

  test("snapshot isolation: a reader resolved before a commit never sees it") {
    val root = tmpDir("vstore_iso") + "/store"
    build(root)
    // resolve the plan (generation list) FIRST, commit afterwards
    val snap = VersionedStore.readAsOf(spark, root, 4)
    VersionedStore.upsert(rows(Seq(1L, 50L), _ => 999L), Seq("k"), root)
    assert(snap.as[(Long, Long)].collect().toSeq.sorted == s4.sorted,
      "an in-flight reader must keep serving its resolved snapshot")
    assert(VersionedStore.read(spark, root).filter($"v" === 999L).count() == 2)
  }

  test("an uncommitted generation is invisible; vacuum removes it once superseded") {
    val root = tmpDir("vstore_crash") + "/store"
    build(root)
    val (fs, dir) = (new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(root))
    // a crashed writer's leftover: a (bucket, epoch) pair the commit
    // log verifiably never named — pick a bucket epoch 1 seeded but
    // epoch 4 did NOT touch (e4 wrote <= 3 of the 8 buckets)
    val cs = VersionedStore.commits(root)
    val b = (cs.find(_.epoch == 1L).get.buckets.toSet --
      cs.find(_.epoch == 4L).get.buckets.toSet).head
    val stray = new Path(dir, f"b$b%05d/g0000004")
    fs.mkdirs(stray)
    val junkSrc = tmpDir("vstore_junk")
    rows(Seq(666L), _ => 666L).coalesce(1).write.mode("overwrite")
      .parquet(s"$junkSrc/j")
    val junkPart = fs.listStatus(new Path(s"$junkSrc/j"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(fs.rename(junkPart, new Path(stray, "part-00000.parquet")))
    fs.create(new Path(stray, "_SUCCESS"), true).close()
    // invisible: snapshot resolution is commit-log-driven, never a listing
    assert(readSet(root, 4) == s4.sorted)
    // in-flight epochs (> current) survive vacuum; stale strays (<= current) go
    val inflight = new Path(dir, f"b$b%05d/g0000009")
    fs.mkdirs(inflight)
    fs.create(new Path(inflight, "_EMPTY"), true).close()
    VersionedStore.vacuum(root, retainAsOf = 1L)
    assert(fs.exists(inflight), "an in-flight writer's generation must survive")
    assert(!fs.exists(stray), "a stale uncommitted generation must be GC'd")
    assert(readSet(root, 4) == s4.sorted)
  }

  test("changelog classifies insert/update/delete and prunes untouched buckets") {
    val root = tmpDir("vstore_cdc") + "/store"
    build(root)
    val full = VersionedStore.changelog(spark, root, 1, 4)
      .select($"k", $"change", $"v").as[(Long, String, Option[Long])]
      .collect().toSeq.sorted
    val expected = (
      // inserts: e2's 41..45 minus e3's deletes, plus e4's 50..52
      ((41L to 45L).filterNot(_ % 4 == 0).map(k => (k, "insert", Some(k * 10 + 1))) ++
        (50L to 52L).map(k => (k, "insert", Some(k * 10)))) ++
      // updates: e2 rewrote 30..40 minus later deletes
      (30L to 40L).filterNot(_ % 4 == 0).map(k => (k, "update", Some(k * 10 + 1))) ++
      // deletes: multiples of 4 that were live at epoch 1
      (1L to 40L).filter(_ % 4 == 0).map(k => (k, "delete", None))
    ).sorted
    assert(full == expected)
    // empty range: no commits in (4,4]
    assert(VersionedStore.changelog(spark, root, 4, 4).count() == 0)
    // delete-only range
    assert(VersionedStore.changelog(spark, root, 2, 3)
      .select($"change").distinct().as[String].collect().toSeq == Seq("delete"))

    // bucket pruning: epoch 5 touches exactly ONE key -> one bucket;
    // changelog(4,5) may open files ONLY under that bucket
    VersionedStore.upsert(rows(Seq(7L), _ => 777L), Seq("k"), root)
    val cdc = VersionedStore.changelog(spark, root, 4, 5)
    val bucketsRead = cdc.inputFiles.map { f =>
      f.split("/").find(_.matches("^b\\d{5}$")).get
    }.toSet
    assert(bucketsRead.size == 1,
      s"changelog must read only changed buckets, read: $bucketsRead")
    assert(cdc.select($"k", $"change", $"v").as[(Long, String, Option[Long])]
      .collect().toSeq == Seq((7L, "update", Some(777L))))
  }

  test("delete edge cases: absent keys are a no-op; an emptied bucket serves and re-fills") {
    val root = tmpDir("vstore_del") + "/store"
    VersionedStore.upsert(rows(Seq(1L, 2L, 3L), _ * 10), Seq("k"), root, nBuckets = 2)
    // absent keys: no new epoch
    assert(VersionedStore.delete(Seq(99L, 100L).toDF("k"), root) == 1L)
    assert(VersionedStore.currentEpoch(root) == 1L)
    // empty a whole bucket (and more), then the store entirely
    assert(VersionedStore.delete(Seq(1L, 2L, 3L).toDF("k"), root) == 2L)
    val empty = VersionedStore.read(spark, root)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "v"))
    // re-fill after total emptiness
    VersionedStore.upsert(rows(Seq(5L), _ => 50L), Seq("k"), root)
    assert(readSet(root, 3) == Seq((5L, 50L)))
    assert(readSet(root, 2) == Seq.empty)
  }

  test("vacuum: retained snapshots intact, older reads fail fast, GC counted") {
    val root = tmpDir("vstore_vac") + "/store"
    build(root)
    val before = readSet(root, 3)
    val rep = VersionedStore.vacuum(root, retainAsOf = 3L)
    assert(rep.watermark == 3L)
    assert(rep.deletedGens > 0, "epochs 1-2 generations shadowed by 3+ must go")
    assert(readSet(root, 3) == before && readSet(root, 4) == s4.sorted,
      "vacuum must never break a retained snapshot")
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, root, 2)
    }
    intercept[IllegalArgumentException] {
      VersionedStore.changelog(spark, root, 2, 4)
    }
    // idempotent: nothing left to delete at the same watermark
    assert(VersionedStore.vacuum(root, retainAsOf = 3L).deletedGens == 0L)
    // watermark is monotone: a LOWER retainAsOf cannot reopen history
    assert(VersionedStore.vacuum(root, retainAsOf = 1L).watermark == 3L)

    // commit-log truncation: markers <= wm replaced by ONE checkpoint,
    // with resolution (current epoch, snapshots, CDC) unchanged.
    // Round-15: truncation is AGE-GATED (a young marker may still be a
    // live writer's fence probe target — deleting it let the epoch be
    // re-committed and shadow the checkpoint), so the sweep needs the
    // injected aged clock
    VersionedStore.vacuum(root, retainAsOf = 3L, nowMillis =
      System.currentTimeMillis() + VersionedStore.InfraSweepMinAgeMillis
        + 1000L)
    val (fs, dir) = (new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(root))
    val names = fs.listStatus(dir).map(_.getPath.getName).toSet
    assert(!names.exists(n => n.matches("^_commit-000000[123]$")),
      s"markers at/below the watermark must be truncated: $names")
    assert(names.contains("_floors-0000003"),
      s"the floors checkpoint must exist: $names")
    assert(VersionedStore.currentEpoch(root) == 4L)
    assert(readSet(root, 4) == s4.sorted && readSet(root, 3) == before)
    assert(VersionedStore.changelog(spark, root, 3, 4)
      .count() == s4.size - s3.size)
    // and the store keeps accepting epochs on top of the checkpoint
    VersionedStore.upsert(rows(Seq(200L), _ => 1L), Seq("k"), root)
    assert(VersionedStore.currentEpoch(root) == 5L)
    assert(readSet(root, 5) == (s4 :+ (200L, 1L)).sorted)
  }

  test("applyOps: mixed CDC batch is ONE epoch; conflicts and bad ops fail fast") {
    val root = tmpDir("vstore_apply") + "/store"
    VersionedStore.upsert(
      Seq((1L, 10L, "x"), (2L, 20L, "x"), (3L, 30L, "y")).toDF("k", "v", "g"),
      Seq("k"), root, nBuckets = 4)
    // one batch: update k=1, insert k=9, delete k=3, delete absent k=99
    val cdc = Seq(
      (1L, Some(11L), Some("x"), "upsert"),
      (9L, Some(90L), Some("z"), "upsert"),
      (3L, None: Option[Long], None: Option[String], "delete"),
      (99L, None: Option[Long], None: Option[String], "delete")
    ).toDF("k", "v", "g", "op")
    assert(VersionedStore.applyOps(cdc, Seq("k"), root, "op") == 2L)
    assert(VersionedStore.commits(root).last.kind == "apply")
    assert(VersionedStore.read(spark, root)
      .as[(Long, Option[Long], Option[String])].collect().toSeq.sorted ==
      Seq((1L, Some(11L), Some("x")), (2L, Some(20L), Some("x")),
        (9L, Some(90L), Some("z"))))
    // the changelog of the apply epoch classifies all three changes
    assert(VersionedStore.changelog(spark, root, 1, 2)
      .select($"k", $"change").as[(Long, String)].collect().toSeq.sorted ==
      Seq((1L, "update"), (3L, "delete"), (9L, "insert")))
    // a key carrying both ops in one batch is ambiguous
    intercept[IllegalArgumentException] {
      VersionedStore.applyOps(Seq(
        (1L, Some(5L), Some("x"), "upsert"),
        (1L, None: Option[Long], None: Option[String], "delete")
      ).toDF("k", "v", "g", "op"), Seq("k"), root, "op")
    }
    // an op outside {upsert, delete} fails fast
    intercept[IllegalArgumentException] {
      VersionedStore.applyOps(
        Seq((2L, Some(1L), Some("x"), "merge")).toDF("k", "v", "g", "op"),
        Seq("k"), root, "op")
    }
    // a delete-only batch of absent keys commits nothing
    assert(VersionedStore.applyOps(
      Seq((500L, None: Option[Long], None: Option[String], "delete"))
        .toDF("k", "v", "g", "op"), Seq("k"), root, "op") == 2L)
  }

  test("a batch whose schema differs from the store's fails fast") {
    // single bucket, then EMPTIED: the bad batch lands insert-only, the
    // one case unionByName cannot catch — only the marker check can
    val root = tmpDir("vstore_schema") + "/store"
    VersionedStore.upsert(Seq((1L, 10L)).toDF("k", "v"), Seq("k"), root,
      nBuckets = 1)
    VersionedStore.delete(Seq(1L).toDF("k"), root)
    val ex = intercept[RuntimeException] {
      VersionedStore.upsert(Seq((400L, "oops")).toDF("k", "v"), Seq("k"), root)
    }
    assert(ex.getMessage.contains("schema mismatch"), ex.getMessage)
    // nullability alone must NOT trip it (literal-null columns)
    VersionedStore.upsert(
      Seq((2L, None: Option[Long])).toDF("k", "v"), Seq("k"), root)
    assert(VersionedStore.currentEpoch(root) == 3L)
    assert(VersionedStore.read(spark, root).as[(Long, Option[Long])]
      .collect().toSeq == Seq((2L, None)))
  }

  test("history: ZERO jobs for the whole epoch log; nulls below the watermark") {
    val root = tmpDir("vstore_hist") + "/store"
    build(root)
    val (hist, cost) = Meter.measure(spark) {
      VersionedStore.history(spark, root)
        .select("epoch", "kind", "n_rows")
        .as[(Long, String, Option[Long])].collect().toSeq.sortBy(_._1)
    }
    // DESCRIBE HISTORY is footer-served: driver metadata reads only —
    // no Spark job at all (the vacuum-jobs==0 posture); a scan-based
    // count would re-read every live data byte for numbers the footers
    // already hold
    assert(cost.jobs.isEmpty,
      s"history must be footer-served with zero jobs, ran ${cost.jobs.size}")
    assert(hist == Seq(
      (1L, "upsert", Some(s1.size.toLong)),
      (2L, "upsert", Some(s2.size.toLong)),
      (3L, "delete", Some(s3.size.toLong)),
      (4L, "upsert", Some(s4.size.toLong))))
    // below-watermark epochs that survive in the checkpoint report null
    VersionedStore.vacuum(root, retainAsOf = 3L)
    val post = VersionedStore.history(spark, root)
      .select("epoch", "kind", "n_rows")
      .as[(Long, String, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(post.map(r => (r._1, r._3.isDefined)).forall {
      case (e, defined) => defined == (e >= 3L)
    }, s"post-vacuum history: $post")
    assert(post.find(_._1 == 4L).get._3.contains(s4.size.toLong))
  }

  test("exportSnapshot publishes a byte-copied flat directory per epoch") {
    val root = tmpDir("vstore_export") + "/store"
    build(root)
    val out = tmpDir("vstore_export_out")
    for (e <- 1L to 4L) {
      val n = VersionedStore.exportSnapshot(spark, root, e, s"$out/e$e")
      assert(n > 0)
      assert(spark.read.parquet(s"$out/e$e").as[(Long, Long)]
        .collect().toSeq.sorted ==
        VersionedStore.readAsOf(spark, root, e).as[(Long, Long)]
          .collect().toSeq.sorted, s"export of epoch $e differs")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/e$e", "_SUCCESS")))
    }
    // re-export overwrites cleanly; below-watermark export fails fast
    assert(VersionedStore.exportSnapshot(spark, root, 4, s"$out/e4") > 0)
    VersionedStore.vacuum(root, retainAsOf = 3L)
    intercept[IllegalArgumentException] {
      VersionedStore.exportSnapshot(spark, root, 2, s"$out/late")
    }
  }

  test("applyOps validates and discovers buckets in ONE fused job") {
    val root = tmpDir("vstore_applyjob") + "/store"
    VersionedStore.upsert(rows(1L to 100L, _ * 10), Seq("k"), root, nBuckets = 8)
    val cdc = ((101L to 150L).map(k => (k, k, "upsert")) ++
      (1L to 10L).map(k => (k, 0L, "delete"))).toDF("k", "v", "op")
    // checkpoint + ONE fused probe + delete-presence probe + staged
    // write; AQE materializes each shuffle stage as its own job, so
    // the constant lands near 9. The point pinned: the old path ran a
    // QUERY per invariant (op-domain count, conflict intersect, and
    // two separate bucket collects — ≥ 7 more jobs on this batch), and
    // any regression back to per-invariant validation blows this bound
    val jobs = countJobs { VersionedStore.applyOps(cdc, Seq("k"), root, "op") }
    assert(jobs <= 10,
      s"applyOps must fuse validation+buckets into one probe job, ran $jobs")
    assert(VersionedStore.read(spark, root).as[(Long, Long)]
      .collect().toSeq.sorted ==
      ((11L to 100L).map(k => (k, k * 10)) ++
        (101L to 150L).map(k => (k, k))).sorted)
  }

  test("additive schema evolution: per-epoch schemas, time travel, CDC, guards") {
    val root = tmpDir("vstore_evolve") + "/store"
    VersionedStore.upsert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      Seq("k"), root, nBuckets = 4)
    // adding a column WITHOUT evolve fails fast, naming the fix
    val e1 = intercept[RuntimeException] {
      VersionedStore.upsert(Seq((2L, 21L, "x")).toDF("k", "v", "cat"),
        Seq("k"), root)
    }
    assert(e1.getMessage.contains("schema mismatch") &&
      e1.getMessage.contains("evolve"), e1.getMessage)
    // evolve = true commits the additive epoch
    assert(VersionedStore.upsert(
      Seq((2L, 21L, "x"), (9L, 90L, "y")).toDF("k", "v", "cat"),
      Seq("k"), root, evolve = true) == 2L)
    // snapshot 1 serves the OLD schema (history predating the column
    // never shows it); snapshot 2 the new one, carried-forward rows null
    assert(VersionedStore.readAsOf(spark, root, 1).columns.toSeq ==
      Seq("k", "v"))
    assert(VersionedStore.readAsOf(spark, root, 1).as[(Long, Long)]
      .collect().toSeq.sorted == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(VersionedStore.read(spark, root)
      .as[(Long, Long, Option[String])].collect().toSeq.sorted ==
      Seq((1L, 10L, None), (2L, 21L, Some("x")), (3L, 30L, None),
        (9L, 90L, Some("y"))))
    // CDC across the boundary conforms to the TO schema: null old images
    val cdc = VersionedStore.changelog(spark, root, 1, 2, images = true)
      .select($"k", $"change", $"cat", $"cat_old")
      .as[(Long, String, Option[String], Option[String])]
      .collect().toSeq.sorted
    assert(cdc == Seq((2L, "update", Some("x"), None),
      (9L, "insert", Some("y"), None)))
    // a retype fails even with evolve; a missing existing column fails
    val e2 = intercept[RuntimeException] {
      VersionedStore.upsert(Seq((5L, "oops", "z")).toDF("k", "v", "cat"),
        Seq("k"), root, evolve = true)
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
    val e3 = intercept[RuntimeException] {
      VersionedStore.upsert(Seq((5L, "z")).toDF("k", "cat"), Seq("k"), root,
        evolve = true)
    }
    assert(e3.getMessage.contains("missing column"), e3.getMessage)
    // post-evolution writes carry the evolved schema WITHOUT evolve
    VersionedStore.upsert(
      Seq((1L, 11L, Option.empty[String])).toDF("k", "v", "cat"),
      Seq("k"), root)
    assert(VersionedStore.currentEpoch(root) == 3L)
    // lookup time-travels the schema too
    assert(VersionedStore.lookup(spark, root, Seq(2L).toDF("k"), epoch = 1L)
      .columns.toSeq == Seq("k", "v"))
    // an orphan evolution marker (a crashed evolver's, for an epoch
    // never committed) is invisible to readers and cleared by the
    // epoch's eventual non-evolving writer
    val (fs, dir) = (new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(root))
    val out = fs.create(new Path(dir, "_schema-0000004"), true)
    out.write("k BIGINT".getBytes("UTF-8")); out.close()
    assert(VersionedStore.schemaAsOf(root, 3L).contains("cat"),
      "an orphan marker beyond the current epoch must not resolve")
    VersionedStore.upsert(
      Seq((7L, 70L, Option.empty[String])).toDF("k", "v", "cat"),
      Seq("k"), root) // epoch 4, non-evolving
    assert(!fs.exists(new Path(dir, "_schema-0000004")),
      "the epoch's writer must clear a crashed evolver's orphan marker")
    assert(VersionedStore.read(spark, root).columns.toSeq ==
      Seq("k", "v", "cat"))
  }

  test("restore rolls current state back as a NEW epoch; history intact") {
    val root = tmpDir("vstore_restore") + "/store"
    build(root)
    assert(VersionedStore.restore(spark, root, 2L) == 5L)
    assert(readSet(root, 5) == s2.sorted, "restored state == snapshot@2")
    // NOTHING in history was rewritten — every prior epoch still serves
    assert(readSet(root, 4) == s4.sorted && readSet(root, 3) == s3.sorted)
    assert(VersionedStore.commits(root).last.kind == "apply")
    // no-ops commit nothing: to the current epoch, or to one the
    // current values already equal
    assert(VersionedStore.restore(spark, root, 5L) == 5L)
    assert(VersionedStore.restore(spark, root, 2L) == 5L,
      "values already equal snapshot@2 — nothing to commit")
    // below the vacuum watermark the old images are gone: fail fast
    VersionedStore.vacuum(root, retainAsOf = 3L)
    intercept[IllegalArgumentException] {
      VersionedStore.restore(spark, root, 2L)
    }
    // across an additive evolution: the schema stays CURRENT, the
    // added column's VALUES revert (null for pre-evolution rows)
    val root2 = tmpDir("vstore_restore_evo") + "/store"
    VersionedStore.upsert(Seq((1L, 10L)).toDF("k", "v"), Seq("k"), root2)
    VersionedStore.upsert(
      Seq((1L, 11L, "x"), (2L, 20L, "y")).toDF("k", "v", "cat"),
      Seq("k"), root2, evolve = true)
    assert(VersionedStore.restore(spark, root2, 1L) == 3L)
    assert(VersionedStore.read(spark, root2).columns.toSeq ==
      Seq("k", "v", "cat"))
    assert(VersionedStore.read(spark, root2).as[(Long, Long, Option[String])]
      .collect().toSeq == Seq((1L, 10L, None)))
  }

  test("lookup opens only the keys' buckets, at any epoch") {
    val root = tmpDir("vstore_lookup") + "/store"
    build(root)
    // present, updated, deleted-at-3, and absent keys in one probe
    val keys = Seq(1L, 30L, 4L, 999L).toDF("k")
    val cur = VersionedStore.lookup(spark, root, keys)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(cur == Seq((1L, 10L), (30L, 301L)),
      s"epoch-4 lookup: $cur") // 4 deleted, 999 never present
    val at2 = VersionedStore.lookup(spark, root, keys, epoch = 2L)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(at2 == Seq((1L, 10L), (4L, 40L), (30L, 301L)))
    // pruning: the probe's plan reads at most |keys| buckets
    val probe = VersionedStore.lookup(spark, root, keys)
    val bucketsRead = probe.inputFiles.flatMap(
      _.split("/").find(_.matches("^b\\d{5}$"))).toSet
    assert(bucketsRead.size <= 4,
      s"lookup must open only the keys' buckets: $bucketsRead")
    // watermark + range guards mirror readAsOf
    VersionedStore.vacuum(root, retainAsOf = 3L)
    intercept[IllegalArgumentException] {
      VersionedStore.lookup(spark, root, keys, epoch = 2L)
    }
    intercept[IllegalArgumentException] {
      VersionedStore.lookup(spark, root, keys, epoch = 9L)
    }
    assert(VersionedStore.lookup(spark, root, keys, epoch = 3L)
      .as[(Long, Long)].collect().toSeq.sorted ==
      Seq((1L, 10L), (30L, 301L)))
  }

  test("lookup/delete hash with the STORE's key types; lookup reads in ONE job") {
    val root = tmpDir("vstore_keytypes") + "/store"
    build(root) // BIGINT keys
    // an Int-typed probe frame against the BIGINT-keyed store: Spark's
    // hash is type-sensitive, so without the store-type cast these
    // keys would prune to the WRONG buckets and silently return empty
    val intKeys = Seq(1, 30, 999).toDF("k") // IntegerType
    assert(VersionedStore.lookup(spark, root, intKeys)
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 10L), (30L, 301L)))
    // delete through an Int-typed key frame must actually hit
    assert(VersionedStore.delete(Seq(30).toDF("k"), root) == 5L)
    assert(VersionedStore.lookup(spark, root, intKeys)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    // a lossy key type (DOUBLE -> BIGINT could alias distinct keys)
    // fails fast instead of guessing
    intercept[IllegalArgumentException] {
      VersionedStore.lookup(spark, root, Seq(1.0d).toDF("k"))
    }
    intercept[IllegalArgumentException] {
      VersionedStore.delete(Seq("1").toDF("k"), root)
    }
    // zero-job bucket discovery: with a local literal key frame the
    // ONLY Spark job a lookup runs is the pruned read itself
    val jobs = countJobs(
      VersionedStore.lookup(spark, root, Seq(1L, 30L).toDF("k")).collect())
    assert(jobs == 1,
      s"lookup must cost exactly the pruned read, got $jobs jobs")
  }

  test("a racing writer's epoch collision fails LOUD, never a silent lost update") {
    val root = tmpDir("vstore_race") + "/store"
    build(root)
    // simulate a second writer winning epoch 5 between our epoch
    // choice and our commit (a no-bucket marker: the realistic race
    // leaves its own generations, irrelevant to the fence): the
    // commit rename must throw, not silently skip the marker and
    // orphan our staged generations as a lost update
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val foreign = new Path(root, "_commit-0000005")
    val out = fs.create(foreign, true)
    out.write("upsert;;0".getBytes("UTF-8")); out.close()
    val ex = intercept[RuntimeException] {
      VersionedStore.writeCommit(fs, new Path(root),
        VersionedStore.Commit(5L, "upsert", Seq(0), 0L))
    }
    assert(ex.getMessage.contains("concurrent writer conflict"),
      s"wrong failure: ${ex.getMessage}")
    // a writer starting AFTER the foreign commit simply builds on it
    assert(VersionedStore.currentEpoch(root) == 5L)
    assert(VersionedStore.upsert(rows(Seq(60L), _ * 10), Seq("k"), root)
      == 6L)
  }

  test("base generation files are KEY-CLUSTERED (tight row-group stats)") {
    val root = tmpDir("vstore_sorted") + "/store"
    VersionedStore.upsert(rows(scala.util.Random.shuffle((1L to 500L).toList),
      _ * 10), Seq("k"), root, nBuckets = 2)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parts = fs.globStatus(new Path(root, "b*/g0000001/*.parquet"))
      .map(_.getPath)
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val ks = spark.read.parquet(p.toString).select("k")
        .as[Long].collect().toSeq
      assert(ks == ks.sorted,
        s"rows within $p must be key-sorted for tight min/max pruning")
    }
  }

  test("generation files carry parquet bloom filters on the KEY columns only") {
    val root = tmpDir("vstore_bloom") + "/store"
    VersionedStore.upsert(rows(1L to 200L, _ * 10), Seq("k"), root,
      nBuckets = 4)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new Path(root, "b*/g0000001/*.parquet"))
      .head.getPath
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part,
        fs.getConf))
    val byName = try {
      import scala.jdk.CollectionConverters._
      rdr.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
    } finally rdr.close()
    // a pushed key predicate can then SKIP row groups whose min/max
    // straddle the probe (hash-distributed keys always straddle) —
    // the absent-key point get touches ~no pages at any store size
    assert(byName("k") >= 0, s"key column must carry a bloom filter: $byName")
    assert(byName("v") < 0, "value columns must not pay bloom overhead")
    assert(VersionedStore.lookup(spark, root, Seq(5L, 9999L).toDF("k"))
      .as[(Long, Long)].collect().toSeq == Seq((5L, 50L)))
  }

  test("restore beyond the current epoch fails fast with a clear guard") {
    val root = tmpDir("vstore_restore_guard") + "/store"
    build(root)
    val ex = intercept[IllegalArgumentException] {
      VersionedStore.restore(spark, root, 9L)
    }
    assert(ex.getMessage.contains("beyond current epoch"),
      s"wrong guard message: ${ex.getMessage}")
  }

  test("history's metadata probes are O(generations), not O(epochs x buckets)") {
    val dir = tmpDir("vstore_probes")
    val root = dir + "/store"
    // epoch 1 seeds ~64 buckets; 23 single-key epochs follow
    VersionedStore.upsert(rows(1L to 200L, _ * 10), Seq("k"), root,
      nBuckets = 64)
    (1 to 23).foreach { i =>
      VersionedStore.upsert(rows(Seq(i.toLong), _ * 10 + i), Seq("k"), root)
    }
    val nEpochs = VersionedStore.currentEpoch(root)
    assert(nEpochs == 24L)
    val nGens = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .filter(p => p.getFileName.toString.matches("^b\\d{5}$"))
      .mapToLong(b => java.nio.file.Files.list(b).count()).sum()
    // serve history through the counting filesystem: same files, every
    // metadata probe (status/list/open) tallied
    spark.sparkContext.hadoopConfiguration
      .set("fs.probe.impl", classOf[CountingFs].getName)
    CountingFs.reset()
    val h = VersionedStore.history(spark, "probe:" + root).collect()
    assert(h.length == 24 && h.forall(r => !r.isNullAt(3) && r.getLong(3) > 0))
    val probes = CountingFs.statusCalls.get() + CountingFs.opens.get()
    // a small constant per generation (exists x2, list, footer open)
    // plus the root listings — NEVER per (epoch x bucket): the old
    // per-epoch snapshotGens resolution would re-probe every serving
    // bucket for all 24 epochs (~2*24*64 > 3000 probes here)
    assert(probes <= 10 * nGens + 50,
      s"history ran $probes probes for $nGens generations")
    assert(probes < nEpochs * 64,
      s"history probes must stay below epochs x buckets: $probes")
  }

  test("taggedEpoch matches the tag exactly, never by suffix; '@' in tags is rejected") {
    val root = tmpDir("vstore_tag") + "/store"
    assert(VersionedStore.upsert(rows(Seq(1L), _ => 1L), Seq("k"), root,
      tag = "xy") == 1L)
    assert(VersionedStore.taggedEpoch(root, "xy").contains(1L))
    // a suffix of a committed tag must NOT match: the exactly-once
    // fence would fail OPEN (treat an unprocessed batch as committed
    // and silently drop it)
    assert(VersionedStore.taggedEpoch(root, "y").isEmpty)
    // an untagged commit's kind never matches a tag probe
    VersionedStore.upsert(rows(Seq(2L), _ => 2L), Seq("k"), root)
    assert(VersionedStore.taggedEpoch(root, "upsert").isEmpty)
    // '@' in a tag could forge a suffix ambiguity — rejected at write
    intercept[IllegalArgumentException] {
      VersionedStore.upsert(rows(Seq(3L), _ => 3L), Seq("k"), root, tag = "a@b")
    }
  }

  test("retention watermark survives both vacuum crash windows, never regresses") {
    val root = tmpDir("vstore_wm") + "/store"
    build(root)
    val (fs, dir) = (new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(root))
    // window A: crash AFTER the _vacuum rewrite, BEFORE the _floors
    // checkpoint — _vacuum alone must hold the guard (commit markers
    // are still intact at that point, so resolution is unaffected)
    val out = fs.create(new Path(dir, "_vacuum"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    assert(VersionedStore.retentionWatermark(root) == 2L)
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, root, 1)
    }
    assert(VersionedStore.vacuum(root, retainAsOf = 1L).watermark == 2L,
      "a lower retainAsOf must not regress the crashed-in watermark")

    // complete a real vacuum at 3, then window B: crash mid-_vacuum
    // rewrite (the marker vanishes) — the create-only _floors
    // checkpoint must hold the guard alone
    VersionedStore.vacuum(root, retainAsOf = 3L)
    fs.delete(new Path(dir, "_vacuum"), false)
    assert(VersionedStore.retentionWatermark(root) == 3L,
      "_floors must carry the watermark when _vacuum is lost")
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, root, 2)
    }
    assert(VersionedStore.vacuum(root, retainAsOf = 1L).watermark == 3L)
    assert(readSet(root, 4) == s4.sorted,
      "retained snapshots must survive every crash window")
  }

  test("an upsert is one staging job regardless of touched-bucket count") {
    val root = tmpDir("vstore_onejob") + "/store"
    // epoch 1 seeds 16 buckets; epoch 2 touches ALL of them
    VersionedStore.upsert(rows(1L to 200L, _ * 10), Seq("k"), root, nBuckets = 16)
    val jobs = countJobs(
      VersionedStore.upsert(rows(1L to 200L, _ * 10 + 1), Seq("k"), root))
    // the checkpoint (which observes the touched buckets), then the
    // staged write with its AQE stages — measured 5, NOT O(buckets);
    // the mutable store's old driver loop would have run >= 16 jobs here
    assert(jobs <= 5,
      s"upsert must be a constant number of jobs, got $jobs for 16 buckets")
    assert(VersionedStore.read(spark, root).as[(Long, Long)]
      .collect().toSeq.sorted == (1L to 200L).map(k => (k, k * 10 + 1)).sorted)
  }

  test("an upsert or delete epoch observes its buckets: no discovery job") {
    val root = tmpDir("vstore_nodiscovery") + "/store"
    VersionedStore.upsert(rows(1L to 40L, _ * 10), Seq("k"), root, nBuckets = 8)
    val up = Meter.measure(spark)(
      VersionedStore.upsert(rows(Seq(3L, 5L), _ * 10 + 1), Seq("k"), root))._2.jobs
    val del = Meter.measure(spark)(
      VersionedStore.delete(Seq(7L).toDF("k"), root))._2.jobs
    // the materialization, then the staging write's jobs (AQE stages
    // the snapshot read) — no `_bucket` collect between them
    assert(up.head.callSite.startsWith("localCheckpoint at "), up.map(_.callSite))
    assert(!up.exists(_.callSite.startsWith("collect at ")), up.map(_.callSite))
    assert(up.size == 5, up.map(_.callSite))
    // a delete's only collects are its key-presence probe
    assert(del.size == 9, del.map(_.callSite))
    assert(VersionedStore.read(spark, root).as[(Long, Long)].collect().toMap ==
      (1L to 40L).filterNot(_ == 7L).map(k =>
        k -> (if (k == 3L || k == 5L) k * 10 + 1 else k * 10)).toMap)

    // past 64 buckets the set spans several masks: every bucket lands
    val wide = tmpDir("vstore_widemask") + "/store"
    VersionedStore.upsert(rows(1L to 300L, _ * 10), Seq("k"), wide, nBuckets = 130)
    VersionedStore.upsert(rows(1L to 300L by 2, _ * 10 + 1), Seq("k"), wide)
    assert(VersionedStore.read(spark, wide).as[(Long, Long)].collect().toMap ==
      (1L to 300L).map(k => k -> (if (k % 2 == 1) k * 10 + 1 else k * 10)).toMap)
  }

  test("a store rebuilt at the same path in one mtime tick reads its own commits") {
    val root = tmpDir("vstore_rebuild") + "/store"
    def bucketOf(k: Long): Int =
      spark.range(1).select(pmod(hash(lit(k)), lit(8))).head().getInt(0)
    // two keys in different buckets: the two stores' epoch-1 commit
    // bodies ("upsert;<b>;<ts>") differ only in the bucket digit
    val k1 = 1L
    val k2 = (2L to 100L).find(k => bucketOf(k) != bucketOf(k1)).get
    VersionedStore.upsert(Seq((k1, "old")).toDF("k", "v"), Seq("k"), root,
      tsMillis = 1000L)
    assert(VersionedStore.read(spark, root).as[(Long, String)].collect()
      .toSeq == Seq((k1, "old"))) // caches the epoch-1 commit body
    val marker = new Path(root, "_commit-0000001")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = fs.getFileStatus(marker)

    graft.sinks.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    VersionedStore.upsert(Seq((k2, "new")).toDF("k", "v"), Seq("k"), root,
      tsMillis = 1000L)
    // the rebuilt marker now matches the cached one in path, length
    // and mtime — everything a (path, len, mtime) cache key sees
    fs.setTimes(marker, old.getModificationTime, -1L)
    val rebuilt = fs.getFileStatus(marker)
    assert(rebuilt.getLen == old.getLen &&
      rebuilt.getModificationTime == old.getModificationTime)

    assert(VersionedStore.read(spark, root).as[(Long, String)].collect()
      .toSeq == Seq((k2, "new")), "the rebuilt store must serve its own rows")
  }
}
