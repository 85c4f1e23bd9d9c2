package graft

import org.apache.spark.sql.functions._

import graft.sinks.VersionedStore
import graft.streaming.ViewStream

/** The view follower's contracts: the persisted view equals a
  * from-scratch build after every catch-up, each source epoch costs
  * ONE view commit of O(changed groups) rows (view-store CDC pinned),
  * emptied groups become store deletes, replays and partial
  * catch-ups (kill/resume) land byte-identical to an uninterrupted
  * follower, and the `src<E>` tags record the lineage. */
class ViewStreamSpec extends SparkSpec {
  import spark.implicits._

  private def src(root: String): Unit = {
    // e1: groups a(1,2) b(10); e2: k2 moves a->b, k4 inserts c;
    // e3: delete k1 and k3 — group a EMPTIES; e4: b updates in place
    VersionedStore.upsert(Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "b", 10L)
    ).toDF("k", "g", "v"), Seq("k"), root)
    VersionedStore.upsert(Seq(
      (2L, "b", 5L), (4L, "c", 7L)).toDF("k", "g", "v"), Seq("k"), root)
    VersionedStore.delete(Seq(1L, 3L).toDF("k"), root)
    VersionedStore.upsert(Seq((2L, "b", 6L)).toDF("k", "g", "v"),
      Seq("k"), root)
  }

  private def scratch(root: String, e: Long) =
    graft.ops.MaterializedView.sumView(
        VersionedStore.readAsOf(spark, root, e), Seq("g"), col("v"))
      .orderBy("g").collect().toSeq

  test("follower equals from-scratch at every epoch; lineage tags; no-op replay") {
    val d = tmpDir("vs_follow"); val s = s"$d/src"; val v = s"$d/view"
    src(s)
    val f = ViewStream(Seq("g"), "v", "sum")
    (1L to 4L).foreach { e =>
      f.applyEpoch(spark, s, v, e)
      assert(f.lastApplied(v) == e)
      assert(VersionedStore.read(spark, v).orderBy("g").collect().toSeq
        == scratch(s, e), s"view diverged after source epoch $e")
    }
    // the emptied group is GONE from the persisted view (a delete op)
    assert(VersionedStore.read(spark, v).filter($"g" === "a").count() == 0)
    val epochs = VersionedStore.currentEpoch(v)
    f.catchUp(spark, s, v)
    assert(VersionedStore.currentEpoch(v) == epochs,
      "replayed catch-up must commit nothing")
    // per-epoch view write is O(changed groups): source e4 touched
    // only group b, so the view CDC across its fold is exactly 1 row
    val cdc = VersionedStore.changelog(spark, v, epochs - 1, epochs)
    assert(cdc.count() == 1L && cdc.collect()(0).getString(0) == "b")
  }

  test("kill/resume: a partial catch-up resumed by a fresh instance is byte-identical") {
    val d = tmpDir("vs_kill")
    val s1 = s"$d/src1"; val v1 = s"$d/view1"
    val s2 = s"$d/src2"; val v2 = s"$d/view2"
    src(s1); src(s2)
    // uninterrupted follower
    ViewStream(Seq("g"), "v", "sum").catchUp(spark, s1, v1)
    // killed mid-history, resumed by a NEW instance
    val half = ViewStream(Seq("g"), "v", "sum")
    half.applyEpoch(spark, s2, v2, 1L)
    half.applyEpoch(spark, s2, v2, 2L)
    ViewStream(Seq("g"), "v", "sum").catchUp(spark, s2, v2)
    val a = VersionedStore.commits(v1).map(c => (c.epoch, c.kind, c.buckets))
    val b = VersionedStore.commits(v2).map(c => (c.epoch, c.kind, c.buckets))
    assert(a == b, "view commit logs must match")
    assert(VersionedStore.read(spark, v1).orderBy("g").collect().toSeq ==
      VersionedStore.read(spark, v2).orderBy("g").collect().toSeq)
    // the view store itself time-travels: view@epoch2 equals the
    // from-scratch build at source epoch 2 (lineage tag = src2)
    val e2 = VersionedStore.taggedEpoch(v2, "src2").get
    assert(VersionedStore.readAsOf(spark, v2, e2).orderBy("g")
      .collect().toSeq == scratch(s2, 2L))
  }

  test("minmax follower: delete-driven retraction through the stream path") {
    val d = tmpDir("vs_minmax"); val s = s"$d/src"; val v = s"$d/view"
    src(s)
    val f = ViewStream(Seq("g"), "v", "minmax")
    f.catchUp(spark, s, v)
    val got = VersionedStore.read(spark, v)
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    val want = graft.ops.MaterializedView.minMaxView(
        VersionedStore.read(spark, s), Seq("g"), col("v"))
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty)
  }

  test("follower over a merge-on-read source resolves chains per epoch") {
    val d = tmpDir("vs_mor"); val s = s"$d/src"; val v = s"$d/view"
    VersionedStore.deltaUpsert(Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "b", 10L)
    ).toDF("k", "g", "v"), Seq("k"), s)
    VersionedStore.deltaApply(Seq(
      (2L, "b", 5L, "upsert"), (3L, "", 0L, "delete")
    ).toDF("k", "g", "v", "op"), Seq("k"), s, "op")
    val f = ViewStream(Seq("g"), "v", "sum")
    f.catchUp(spark, s, v)
    assert(VersionedStore.read(spark, v).orderBy("g").collect().toSeq ==
      scratch(s, 2L))
  }

  test("no-op watermark: a caught-up poll runs ZERO jobs, even past no-op epochs") {
    val d = tmpDir("vs_wm"); val s = s"$d/src"; val v = s"$d/view"
    // e1/e2: delta content; e3: compact — a CONTENT NO-OP epoch whose
    // changelog is empty, so it never commits a view epoch and (before
    // the watermark) every later poll would re-read its changelog
    VersionedStore.deltaUpsert(Seq((1L, "a", 1L), (2L, "b", 2L))
      .toDF("k", "g", "v"), Seq("k"), s)
    VersionedStore.deltaUpsert(Seq((1L, "a", 3L)).toDF("k", "g", "v"),
      Seq("k"), s)
    VersionedStore.compact(spark, s)
    val f = ViewStream(Seq("g"), "v", "sum")
    assert(f.catchUp(spark, s, v) == 3L)
    assert(f.lastApplied(v) == 3L,
      "the watermark must cover the examined no-op epoch")
    assert(VersionedStore.taggedEpoch(v, "src3").isEmpty,
      "fixture: epoch 3 must be a view no-op (else this test is vacuous)")
    // second poll: nothing new — O(new epochs) means ZERO Spark jobs
    val (polled, poll) = Meter.measure(spark)(f.catchUp(spark, s, v))
    assert(polled == 3L)
    assert(poll.jobs.isEmpty,
      s"a caught-up poll must be metadata-only, ran ${poll.jobs.size} jobs")
    // crash-safety of the watermark: deleting it only costs a re-read
    // of the no-op changelog (the tags still dedupe real folds)
    val fs = new org.apache.hadoop.fs.Path(v).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(v, "_viewwm"), false)
    val epochs = VersionedStore.currentEpoch(v)
    assert(f.catchUp(spark, s, v) == 3L)
    assert(VersionedStore.currentEpoch(v) == epochs,
      "re-examining after a lost watermark must commit nothing")
  }

  test("registry: N views share ONE changelog read per source epoch") {
    // two identical sources (probe-counted reads must compare like
    // with like); views on plain local paths so only SOURCE file
    // opens are tallied
    def build(tag: String, nViews: Int): Int = {
      val d = tmpDir(s"vs_reg_$tag"); val s = s"$d/src"
      src(s)
      // sum views: their ONLY source reads are the changelog itself,
      // so the open count isolates the sharing claim (a minmax view
      // would legitimately add per-view snapshotAtTo reads)
      val views = (1 to nViews).map { i =>
        (ViewStream(Seq("g"), "v", "sum"), s"$d/view$i")
      }
      // bootstrap on epoch 1 first so the measured window is pure
      // CDC-fold traffic (bootstraps read full snapshots per view)
      views.foreach { case (vw, root) =>
        vw.applyEpoch(spark, s, root, 1L) }
      spark.sparkContext.hadoopConfiguration
        .set("fs.probe.impl", classOf[CountingFs].getName)
      CountingFs.reset()
      ViewStream.catchUpAll(spark, "probe:" + s,
        views.map { case (vw, root) => (vw, root) })
      CountingFs.opens.get()
    }
    val one = build("one", 1)
    val two = build("two", 2)
    // identical sources, identical fold work — the second view must
    // ride the FIRST view's changelog read (commit-log metadata aside,
    // not one extra source data file opens; without sharing this
    // doubles)
    assert(two <= one + 4,
      s"2-view registry must share the changelog read: $one -> $two opens")
    // and correctness: a mixed registry lands both views current
    val d = tmpDir("vs_reg_mix"); val s = s"$d/src"
    src(s)
    val vws = Seq(
      (ViewStream(Seq("g"), "v", "sum"), s"$d/va"),
      (ViewStream(Seq("g"), "v", "minmax"), s"$d/vb"))
    assert(ViewStream.catchUpAll(spark, s, vws) == 4L)
    assert(VersionedStore.read(spark, s"$d/va").orderBy("g")
      .collect().toSeq == scratch(s, 4L))
    val mm = graft.ops.MaterializedView.minMaxView(
        VersionedStore.read(spark, s), Seq("g"), col("v"))
      .orderBy("g").collect().toSeq
    assert(VersionedStore.read(spark, s"$d/vb").orderBy("g")
      .collect().toSeq == mm)
  }

  test("double-valued minmax follower: typed deletes, exact extremes") {
    val d = tmpDir("vs_dbl"); val s = s"$d/src"; val v = s"$d/view"
    VersionedStore.upsert(Seq(
      (1L, "a", 1.5d), (2L, "a", 2.25d), (3L, "b", 10.125d)
    ).toDF("k", "g", "v"), Seq("k"), s)
    // k3 leaves: group b EMPTIES — the delete row's null min/max must
    // be typed DOUBLE (a hardcoded long cast would fail the commit)
    VersionedStore.delete(Seq(3L).toDF("k"), s)
    // k1's retraction breaks group a's max -> affected-group recompute
    VersionedStore.upsert(Seq((2L, "a", 0.5d)).toDF("k", "g", "v"),
      Seq("k"), s)
    val f = ViewStream(Seq("g"), "v", "minmax", valueType = "double")
    f.catchUp(spark, s, v)
    val got = VersionedStore.read(spark, v)
      .as[(String, Double, Double, Long)].collect().toSeq
    assert(got == Seq(("a", 0.5d, 1.5d, 2L)), s"view: $got")
    // the sum family refuses floating values
    intercept[IllegalArgumentException] {
      ViewStream(Seq("g"), "v", "sum", valueType = "double")
    }
  }
}
