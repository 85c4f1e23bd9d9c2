package graft

import graft.connectors.VersionedKeyedStore
import graft.sinks.VersionedStore

/** READ-PLANNING cost on a remote-shaped filesystem, the read-side
  * sibling of CommitCostSpec: every list/exists/status/open through
  * the counting FS is one metadata round trip on an object store.
  * Planning a snapshot read takes the commit log, the watermark and
  * the schema markers from ONE root listing, and each serving
  * generation's part files from the ONE listing that resolved it — so
  * an 8-bucket store plans in about a dozen ops and no existence probe
  * at all. A second root listing, a re-listed generation or an
  * exists-before-list guard blows the budget. */
class ReadCostSpec extends SparkSpec {
  import spark.implicits._

  test("planning a keyed-store read lists the root once, each generation once, and probes nothing") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.probe.impl", classOf[CountingFs].getName)
    val root = "probe:" + tmpDir("read_cost") + "/store"
    VersionedStore.upsert((1L to 400L).map(k => (k, k)).toDF("k", "v"),
      Seq("k"), root, nBuckets = 8)
    VersionedStore.upsert(Seq((7L, 77L)).toDF("k", "v"), Seq("k"), root)

    CountingFs.reset()
    val df = VersionedKeyedStore(root).read(spark)
    val ops = CountingFs.allOps
    println(s"READ_COST plan=$ops ops (status=${CountingFs.statusCalls.get()}" +
      s" opens=${CountingFs.opens.get()}" +
      s" exists=${CountingFs.existsCalls.get()})")
    // one root listing + the newest commit marker's body + `_schema`
    // (each open also stats its file) + one listing per bucket: 13
    assert(CountingFs.existsCalls.get() == 0,
      "planning a read must not probe existence")
    assert(ops <= 16, s"planning an 8-bucket read cost $ops metadata ops")
    val cur = df.get.as[(Long, Long)].collect().toMap
    assert(cur.size == 400 && cur(7L) == 77L && cur(8L) == 8L)

    // an absent store is the root listing's FileNotFoundException
    CountingFs.reset()
    assert(VersionedKeyedStore("probe:" + tmpDir("read_cost") + "/none")
      .read(spark).isEmpty)
    assert(CountingFs.allOps == 1, s"absent store: ${CountingFs.allOps} ops")
  }
}
