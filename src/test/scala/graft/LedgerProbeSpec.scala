package graft

import org.apache.spark.sql.functions._

import graft.sinks.VersionedStore
import graft.streaming.{LmStream, TrainStream}

/** Per-micro-batch ledger I/O contract (round-15): the streaming
  * maintainers' ledgers grow with the CORPUS while a micro-batch is
  * bounded, so their per-batch probes must read f(batch), never
  * f(ledger). Pinned on the counting `probe://` FS, LookupProbeSpec
  * style: grow the ledger 10× and assert the SAME batch's probe opens
  * stay flat — the discriminating asymptote (a full-ledger scan's
  * opens are flat in rows too, so the spec also pins opens far under
  * the store's bucket count, which only bucket pruning achieves). */
class LedgerProbeSpec extends SparkSpec {
  import spark.implicits._

  private def probeRoot(tag: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.probe.impl", classOf[CountingFs].getName)
    "probe:" + tmpDir(tag)
  }

  private def measured(body: => Unit): (Int, Long) = {
    CountingFs.reset()
    body
    (CountingFs.opens.get(), CountingFs.bytesRead.get())
  }

  private def docs(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta token"),
        pmod(col("id"), lit(7L))).as("text"))

  test("probeForKeys reads only the probe keys' buckets, exactly") {
    val root = probeRoot("ledger_probe_unit") + "/store"
    VersionedStore.upsert(
      spark.range(0L, 2000L).select(col("id").as("k"), (col("id") * 3).as("v")),
      Seq("k"), root, nBuckets = 64)
    val keys = Seq(17L, 23L, 900L).toDF("k")
    CountingFs.reset()
    val got = VersionedStore.probeForKeys(spark, root, keys)
      .as[(Long, Long)].collect().toSet
    val dataOpens = CountingFs.parquetOpens.get()
    assert(got == Set((17L, 51L), (23L, 69L), (900L, 2700L)),
      s"pushed single-key probe is exact: $got")
    // ≤ 3 key buckets × (footer + pages [+ reopen]); a full scan would
    // open all 64 bucket files
    assert(dataOpens <= 9,
      s"3-key probe opened $dataOpens data files — must be ≤ its keys' buckets")
    // absent keys: bucket dirs still open (hash says they could be
    // there) but the result is empty and the key push means blooms can
    // skip every data page
    assert(VersionedStore.probeForKeys(spark, root,
      Seq(999999L).toDF("k")).count() == 0L)
    // composite-key probe: the pushed tuple predicate is exact too
    val root2 = probeRoot("ledger_probe_pair") + "/store"
    VersionedStore.upsert(
      spark.range(0L, 500L).select(concat(lit("c"), pmod(col("id"), lit(50L)))
        .as("context"), concat(lit("w"), col("id")).as("word"),
        col("id").as("cnt")),
      Seq("context", "word"), root2, nBuckets = 32)
    val pairKeys = Seq(("c1", "w1"), ("c2", "w2")).toDF("context", "word")
    val hit = VersionedStore.probeForKeys(spark, root2, pairKeys)
      .as[(String, String, Long)].collect().toSet
    assert(hit == Set(("c1", "w1", 1L), ("c2", "w2", 2L)))
  }

  test("composite-key probe skips pages on BOTH columns (hot first key)") {
    val root = probeRoot("ledger_probe_hot") + "/store"
    val hconf = spark.sparkContext.hadoopConfiguration
    // small row groups so intra-bucket skipping is measurable on a
    // sandbox-sized fixture (restored below — session-global knob)
    hconf.setInt("parquet.block.size", 64 * 1024)
    try {
      // realistic vocabulary (round-15 verdict #4: a tiny fixture's
      // bytes assertions discriminate weakly): ONE hot context with
      // 120k words plus cold contexts — the hot context's rows span
      // several row groups per bucket, so a first-column-only push
      // must read them ALL while the full-width push reads only the
      // groups holding the probed words
      val hot = spark.range(0L, 120000L).select(lit("c1").as("context"),
        format_string("w%06d", col("id")).as("word"),
        col("id").as("cnt"),
        concat(lit("pad"), format_string("%060d", col("id"))).as("pad"))
      val cold = spark.range(0L, 900L).select(
        concat(lit("c"), (pmod(col("id"), lit(9L)) + 2)).as("context"),
        format_string("w%06d", col("id")).as("word"),
        col("id").as("cnt"),
        concat(lit("pad"), format_string("%060d", col("id"))).as("pad"))
      VersionedStore.upsert(hot.unionByName(cold),
        Seq("context", "word"), root, nBuckets = 32)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "context STRING, word STRING, cnt BIGINT, pad STRING")
      // probe words far apart in the sort order — distinct row groups
      val pairKeys = Seq("w000007", "w040001", "w080003", "w119991")
        .map(("c1", _)).toDF("context", "word")
      def probeBytes(probe: => org.apache.spark.sql.DataFrame): (Long, Long) = {
        CountingFs.reset()
        val rows = probe.collect()
        (CountingFs.bytesRead.get(), rows.length.toLong)
      }
      val (fullB, fullRows) =
        probeBytes(VersionedStore.probeForKeys(spark, root, pairKeys))
      // the comparison read: the SAME buckets with only the first key
      // column pushed
      val buckets = pairKeys.select(
        pmod(hash(col("context"), col("word")), lit(32))).as[Int]
        .collect().toSet
      val paths = VersionedStore.snapshotChains(root,
        VersionedStore.commits(root), Long.MaxValue, only = Some(buckets))
        .values.flatMap(_.paths).toSeq
      val (firstB, firstRows) = probeBytes(spark.read.schema(schema)
        .parquet(paths: _*).filter(col("context") === "c1"))
      println(s"LEDGER_IO hotkey full=($fullB B, $fullRows rows) " +
        s"firstColOnly=($firstB B, $firstRows rows)")
      // the OR-of-conjunctions push is EXACT — 4 rows back, not the
      // hot context's thousands
      assert(fullRows == 4L, s"full-width push must be exact: $fullRows")
      assert(firstRows > 1000L,
        s"fixture must make first-col-only non-selective: $firstRows")
      // THE pin (fails under first-column-only pushdown): the hot
      // context's pages the probe doesn't need are SKIPPED
      assert(fullB * 2 <= firstB,
        s"word-level page skipping must cut bytes at least 2x: " +
          s"$fullB vs $firstB")
    } finally hconf.unset("parquet.block.size")
  }

  private def measuredIo(body: => Unit): (Int, Long, Long) = {
    CountingFs.reset()
    body
    (CountingFs.parquetOpens.get(), CountingFs.bytesRead.get(),
      CountingFs.bytesWritten.get())
  }

  test("LmStream: per-batch reads AND writes flat when the ledger grows 10x") {
    val root = probeRoot("ledger_probe_lm")
    val lm = LmStream("doc_id", col("text"), 2, nBuckets = 64)
    lm.bootstrap(docs(0L, 200L).localCheckpoint(), root)
    def smallBatch(e: Long) =
      docs(100000L + e * 3, 100000L + e * 3 + 3).localCheckpoint()
    val (opensSmall, readSmall, writeSmall) = measuredIo {
      lm.processBatch(smallBatch(1L), 1L, root)
    }
    // grow the ledger ~10×: 2000 more docs' grams and ids land; then
    // COMPACT so both measurements run against plain (chain-length-1)
    // buckets — the comparison isolates LEDGER SIZE (what this pin is
    // about) from chain length, which is bounded separately by the
    // MaxDeltas compaction policy and priced per-generation in the
    // TrainStream case below
    lm.processBatch(docs(200L, 2200L).localCheckpoint(), 2L, root)
    graft.sinks.VersionedStore.compact(spark, s"$root/lm_counts")
    graft.sinks.VersionedStore.compact(spark, s"$root/lm_docs")
    val (opensBig, readBig, writeBig) = measuredIo {
      lm.processBatch(smallBatch(3L), 3L, root)
    }
    println(s"LEDGER_IO lm small=($opensSmall opens, $readSmall B read, " +
      s"$writeSmall B written) big=($opensBig opens, $readBig B read, " +
      s"$writeBig B written)")
    // THE read asymptote pin, on DATA opens (the commit log's marker
    // cadence is priced separately — CommitCostSpec): the same-sized
    // batch opens the same parquet files against a 10× ledger, +small
    // slack for the one delta generation the growth epoch added to the
    // probe buckets' chains. A full-ledger scan opens every bucket of
    // both ledgers (128 files) and grows with bucket fill.
    assert(opensBig <= opensSmall + 12,
      s"per-batch data opens must be f(batch), not f(ledger): " +
        s"$opensSmall -> $opensBig")
    assert(opensBig < 64,
      s"a 3-doc batch must not touch every bucket: $opensBig")
    // read BYTES flat too: bucket pruning + the pushed key predicate
    // ride blooms/row-group stats, so a 10× bigger ledger costs footer
    // + bloom, not data pages (2× headroom for footer growth)
    assert(readBig <= readSmall * 2 + 65536,
      s"per-batch read bytes must track the batch, not the bucket: " +
        s"$readSmall -> $readBig")
    // THE round-16 WRITE asymptote pin: merge-on-read delta commits
    // write O(batch) bytes whatever the ledger size. The pre-round-16
    // swap-store upsert re-wrote every touched bucket wholesale — on
    // the 10× ledger that multiplied written bytes with bucket fill;
    // under MOR the same batch stages the same batch-sized deltas.
    assert(writeBig <= writeSmall * 2 + 65536,
      s"per-batch WRITTEN bytes must track the batch, not the ledger: " +
        s"$writeSmall -> $writeBig")
    // exactness unchanged: redelivery of an already-landed id adds 0
    val before = lm.counts(spark, root).agg(sum("cnt_gram")).collect()(0)
      .getLong(0)
    lm.processBatch(smallBatch(1L), 4L, root) // epoch-2 redelivery
    val after = lm.counts(spark, root).agg(sum("cnt_gram")).collect()(0)
      .getLong(0)
    assert(before == after, "redelivered ids must contribute nothing")
  }

  test("TrainStream: novelty I/O bounded by batch buckets x chain cap") {
    val root = probeRoot("ledger_probe_train")
    val emb = spark.range(0L, 3000L).select(col("id").as("vec_id"),
      array((0 until 8).map(i => (pmod(col("id") + i, lit(97L)) / 97.0)
        .cast("float")): _*).as("embedding")).localCheckpoint()
    val ts = TrainStream("vec_id",
      b => graft.ops.LinearTrainer.embeddingFeatures(b, "vec_id",
        col("embedding")),
      graft.ops.LinearTrainer.labelU(pmod(col("vec_id"), lit(2)) === 0),
      lrDenom = 1L << 28, docBuckets = 64)
    // land 40 delta epochs of 50 ids each — crosses the MaxDeltas=8
    // compaction threshold several times, so the ledger is a mix of
    // compacted bases and short chains (the steady state)
    (0 until 40).foreach { i =>
      ts.processBatch(emb.filter(col("vec_id") >= i * 50L &&
        col("vec_id") < (i + 1) * 50L).localCheckpoint(), i + 1L, root)
    }
    // the probe for a tiny batch against the 2000-id ledger
    def tiny(e: Long) = emb.filter(col("vec_id") >= 2900L + e * 2 &&
      col("vec_id") < 2902L + e * 2).localCheckpoint()
    val (opens1, _, write1) = measuredIo {
      ts.processBatch(tiny(0L), 41L, root)
    }
    // grow the ledger ~1.5× in ONE epoch and re-measure the same shape
    ts.processBatch(emb.filter(col("vec_id") >= 2000L &&
      col("vec_id") < 2800L).localCheckpoint(), 42L, root)
    val (opens2, _, write2) = measuredIo {
      ts.processBatch(tiny(1L), 43L, root)
    }
    println(s"LEDGER_IO train small=($opens1 opens, $write1 B written) " +
      s"big=($opens2 opens, $write2 B written)")
    // data opens bounded by the CHAIN CAP, not the ledger: a tiny
    // batch opens its ids' bucket chains (≤ MaxDeltas+1 generations
    // each) + the one-bucket weight ledger — never the 64-bucket
    // store (the pre-round-15 scan opened every epoch dir, growing
    // per batch forever; the round-15 fold still rewrote O(ledger/16)
    // on the landing path every 16th epoch)
    assert(opens2 <= opens1 + 12,
      s"novelty data opens must be f(batch buckets x chain cap): " +
        s"$opens1 -> $opens2")
    assert(opens2 <= 40,
      s"a 2-id batch must stay far under the 64-bucket ledger: $opens2")
    // WRITE bytes track the batch + the model-sized weight ledger —
    // the docs delta is O(batch) under MOR however big the ledger
    assert(write2 <= write1 * 2 + 65536,
      s"per-batch written bytes must track the batch: $write1 -> $write2")
    // redelivery exactness: replaying landed ids must not move weights
    val w1 = ts.weights(spark, root).as[(Long, Long)].collect().toMap
    ts.processBatch(emb.filter(col("vec_id") < 50L).localCheckpoint(),
      99L, root)
    val w2 = ts.weights(spark, root).as[(Long, Long)].collect().toMap
    assert(w1 == w2, "redelivered ids must not re-train")
  }
}
