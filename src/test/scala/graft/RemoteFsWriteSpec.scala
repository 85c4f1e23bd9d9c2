package graft

import org.apache.spark.sql.functions._

import graft.connectors.ParquetStore
import graft.sinks.VersionedStore

/** Round-14 guard: the local-filesystem FAST PATHS (java.nio marker
  * writes, POSIX hard-link commit fence, nio mkdirs) must correctly
  * FALL BACK on a remote-shaped filesystem — every store write surface
  * runs end to end against a `probe://` root (a non-`file` scheme with
  * no FileContext binding and no link primitive), exactly the posture
  * of an object-store deployment. A fast path that silently assumed
  * local paths would corrupt or crash here, not on a 100 TB bucket. */
class RemoteFsWriteSpec extends SparkSpec {
  import spark.implicits._

  test("every store write surface works through a non-local scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.probe.impl", classOf[CountingFs].getName)
    val root = "probe:" + tmpDir("remote_write") + "/store"

    // COW upserts (election fence, nio-less markers, _SUCCESS tokens)
    assert(VersionedStore.upsert((1L to 40L).map(k => (k, k, 1L))
      .toDF("k", "v", "u"), Seq("k"), root, nBuckets = 4) == 1L)
    assert(VersionedStore.upsert(Seq((7L, 700L, 2L)).toDF("k", "v", "u"),
      Seq("k"), root) == 2L)
    // MOR delta + observation stats + chain read
    assert(VersionedStore.deltaApply(
      Seq((9L, 900L, 3L, "upsert"), (11L, 0L, 0L, "delete"))
        .toDF("k", "v", "u", "op"), Seq("k"), root, "op") == 3L)
    val cur = VersionedStore.read(spark, root)
      .as[(Long, Long, Long)].collect()
      .map { case (k, v, u) => k -> ((v, u)) }.toMap
    assert(cur.size == 39 && cur(7L) == ((700L, 2L)) &&
      cur(9L) == ((900L, 3L)) && !cur.contains(11L))
    // data skipping consults manifests through the remote FS
    val pruned = VersionedStore.readPruned(spark, root, "u", 2L, 3L)
    assert(pruned.as[(Long, Long, Long)].collect().toSet ==
      Set((7L, 700L, 2L), (9L, 900L, 3L)))
    // compaction, history, time travel, vacuum
    assert(VersionedStore.compact(spark, root) == 4L)
    assert(VersionedStore.readAsOf(spark, root, 1L).count() == 40L)
    assert(VersionedStore.history(spark, root).count() == 4L)
    VersionedStore.setVacuumGrace(root, 0L)
    val r = VersionedStore.vacuum(root, 3L)
    assert(r.watermark == 3L)
    assert(VersionedStore.read(spark, root).count() == 39L)

    // the swap-by-rename KeyedStore (swap promote + _SUCCESS probe)
    val stat = ParquetStore("probe:" + tmpDir("remote_stat") + "/st")
    assert(stat.read(spark).isEmpty)
    stat.upsert((1L to 30L).map(k => (k, k)).toDF("k", "c"), Seq("k"))
    val first = stat.read(spark)
    assert(first.isDefined, "a landed upsert must read back")
    assert(first.get.count() == 30L)
    stat.upsert(Seq((7L, 70L)).toDF("k", "c"), Seq("k"))
    val rows = stat.read(spark).get.as[(Long, Long)].collect().toMap
    assert(rows.size == 30 && rows(7L) == 70L)
  }
}
