package graft

import org.apache.spark.sql.functions._

import graft.sinks.VersionedStore

/** Round-17 contract pins (verdict tasks #7/#8 + round-16 ADVICE):
  *
  *  - keysUnique debug fence: `spark.graft.store.validateUnique=true`
  *    re-arms the dup probe, so a caller violating the one-row-per-key
  *    contract fails LOUDLY instead of landing nondeterministic
  *    newest-wins data (the fence the fast path removed from the
  *    production shape).
  *  - single-bucket empty-batch fence: an empty batch over a live
  *    single-bucket [[VersionedStore.upsert]] store must be a no-op —
  *    no new epoch, no bucket rewrite.
  *  - typedLit model bound: the literal-map scoring expression stays
  *    WHOLE-STAGE CODEGEN'D at exactly
  *    [[graft.ops.LinearTrainer.MaxLiteralWeights]] entries
  *    (codegen fallback disabled, so a compile failure would throw —
  *    the bound is proven, not assumed).
  */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  test("validateUnique re-arms the keysUnique dup fence") {
    val root = tmpDir("r17_dupfence")
    val dup = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("k", "v")
    spark.conf.set("spark.graft.store.validateUnique", "true")
    try {
      val e = intercept[Exception] {
        VersionedStore.deltaUpsert(dup, Seq("k"), s"$root/s",
          nBuckets = 2, keysUnique = true)
      }
      assert(e.getMessage.contains("MORE THAN ONE upsert row"),
        s"expected the dup-fence message, got: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.store.validateUnique")
    // stream case: the host's RUNTIME overrides (the fence and a time
    // zone) must reach a foreachBatch store write on the micro-batch
    // session clone, not just a batch write on the host session
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    dup.coalesce(1).write.parquet(s"$root/landing")
    spark.conf.set("spark.graft.store.validateUnique", "true")
    spark.conf.set(tzKey, "America/Los_Angeles")
    val seenTz = new java.util.concurrent.atomic.AtomicReference[String]
    try {
      val q = graft.streaming.StreamSessions.microBatch(spark).readStream
        .schema("k BIGINT, v BIGINT").parquet(s"$root/landing")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seenTz.set(b.sparkSession.conf.get(tzKey))
          VersionedStore.deltaUpsert(b, Seq("k"), s"$root/s3",
            nBuckets = 2, keysUnique = true)
          ()
        }
        .start()
      val e = try intercept[Exception](q.processAllAvailable())
        finally q.stop()
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("MORE THAN ONE upsert row")),
        s"expected the dup-fence message in the stream, got: $msgs")
      assert(seenTz.get == "America/Los_Angeles",
        s"host time-zone override did not reach the batch: ${seenTz.get}")
    } finally {
      spark.conf.unset("spark.graft.store.validateUnique")
      spark.conf.set(tzKey, prevTz)
    }
    // production shape (fence off): a CONTRACT-HONORING batch lands
    // with the staging write as its only action and reads back exactly
    val ok = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    VersionedStore.deltaUpsert(ok, Seq("k"), s"$root/s2",
      nBuckets = 2, keysUnique = true)
    assert(VersionedStore.read(spark, s"$root/s2").orderBy("k")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("empty batch over a live single-bucket store rewrites nothing") {
    val root = tmpDir("r17_emptybatch")
    val store = s"$root/w"
    Seq((1L, 5L), (2L, 6L)).toDF("b", "w")
      .write.mode("ignore").parquet(s"$root/seed") // warm codegen only
    assert(VersionedStore.upsert(Seq((1L, 5L), (2L, 6L)).toDF("b", "w"),
      Seq("b"), store, nBuckets = 1) == 1L)
    def sig(): Seq[(String, Long, Long)] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
        .iterator()
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next().toFile
        if (f.isFile) out += ((f.getPath, f.lastModified, f.length))
      }
      out.toSeq.sorted
    }
    val before = sig()
    assert(before.exists(_._1.contains("/b00000/")),
      "seed batch must have landed")
    Thread.sleep(20) // ensure a rewrite would move lastModified
    assert(VersionedStore.upsert(Seq.empty[(Long, Long)].toDF("b", "w"),
      Seq("b"), store, nBuckets = 1) == 1L, "an empty batch commits no epoch")
    assert(VersionedStore.currentEpoch(store) == 1L)
    assert(sig() == before,
      "an empty batch must not rewrite the live bucket or any marker")
    // content unchanged too
    assert(VersionedStore.read(spark, store).orderBy("b")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 5L), (2L, 6L)))
  }

  test("literal weight map stays codegen'd at the MaxLiteralWeights bound") {
    val n = graft.ops.LinearTrainer.MaxLiteralWeights
    val w: Map[Long, Long] = (0 until n).map(i => i.toLong -> (i * 3L)).toMap
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val scored = spark.range(1000)
        .select((col("id") * 131L % n).as("_b"))
        .select(col("_b"),
          coalesce(element_at(typedLit(w), col("_b")), lit(0L)).as("_s"))
      val rows = scored.orderBy("_b").limit(3).as[(Long, Long)].collect()
      assert(rows.forall { case (b, s) => s == b * 3L },
        s"literal-map lookup must evaluate exactly: $rows")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }
}
