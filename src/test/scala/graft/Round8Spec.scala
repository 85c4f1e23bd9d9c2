package graft

import org.apache.spark.sql.functions._

import graft.ops.{ApproxDedup, Multimodal}

/** The streaming ANN-index maintainer ([[graft.streaming.IndexStream]])
  * vs one-shot assignment: landing the vector batches as a stream —
  * killed and resumed mid-stream, then fully replayed — must produce
  * the byte-identical posting store, because assignments are pure
  * functions of (vector, frozen centroids) and the store upsert is
  * keyed. */
class IndexStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.streaming.IndexStream

  test("kill-and-resume vector stream == one-shot assign-all, and serves top-k") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val landing = emb.filter(col("vec_id") % 10 === 0)
      .orderBy("vec_id").collect()
    val batches = landing.grouped((landing.length + 1) / 2).toSeq
    assert(batches.size == 2)

    val root = tmpDir("index_stream")
    val landingDir = s"$root/landing"
    val p = IndexStream("vec_id", "embedding")
    p.bootstrap(old, k = 8, iters = 2, root)

    def writeFile(i: Int): Unit =
      spark.createDataFrame(
          spark.sparkContext.parallelize(batches(i).toIndexedSeq, 1),
          emb.schema)
        .write.mode("append").parquet(landingDir)

    writeFile(0)
    val q1 = p.start(spark, landingDir, emb.schema, root)
    q1.processAllAvailable()
    q1.stop() // kill mid-stream
    val q2 = p.start(spark, landingDir, emb.schema, root)
    q2.processAllAvailable()
    writeFile(1)
    q2.processAllAvailable()
    q2.stop()
    // queue redelivery on top
    batches.indices.foreach { i =>
      p.processBatch(spark.createDataFrame(
        spark.sparkContext.parallelize(batches(i).toIndexedSeq, 1),
        emb.schema), root)
    }

    val streamed = p.index(spark, root).assignments
      .select(col("corpus_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    val idx0 = ops.Similarity.ivfIndexBuild(old, "vec_id", "embedding", 8, 2)
    val oneShot = ops.Similarity
      .ivfIndexUpsert(idx0, emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding")
      .assignments.select(col("corpus_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(streamed == oneShot)
    assert(streamed.size == emb.count())

    // and the maintained index serves top-k directly
    val served = ops.Similarity.ivfTopKFromIndex(
        emb.filter(col("vec_id") < 3), p.index(spark, root),
        "vec_id", "embedding", k = 3, nprobe = 1)
      .count()
    assert(served == 9L)
  }
}

/** [[graft.ops.Layout.compactFiles]] — the execution half of the
  * compaction planner: multi-file bins become one file, single-file
  * bins are byte-identical copies, and the output is a fixed point of
  * the planner (re-planning yields only single-file bins; a second
  * run rewrites nothing). */
class CompactionExecSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.ops.Layout

  private def md5(p: java.nio.file.Path): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val it = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
        out += p
    }
    out.sortBy(_.getFileName.toString).toSeq
  }

  test("contents survive, bins merge, and the output is a planner fixed point") {
    val root = tmpDir("compact")
    val src = s"$root/src"
    val data = (1L to 5000L).map(i => (i, s"row$i")).toDF("id", "v")
    data.repartition(12, col("id")).write.parquet(src)
    val nSrc = parquetFiles(src).length
    assert(nSrc == 12)
    val target = parquetFiles(src).map(java.nio.file.Files.size(_)).sum / 3

    val out1 = s"$root/out1"
    val summary = Layout.compactFiles(spark, src, out1, target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(summary.exists(_._3 == "rewrite"), "fixture must exercise merges")
    assert(parquetFiles(out1).length < nSrc)
    // content equality, row for row
    val pre = data.as[(Long, String)].collect().toSeq.sorted
    val post = spark.read.parquet(out1).as[(Long, String)]
      .collect().toSeq.sorted
    assert(post == pre)

    // fixed point: a second run re-plans the output into single-file
    // bins only (the minBytes candidate rule — merged files
    // re-classify as compact even though parquet merge shrinks them
    // below the sum of their inputs) and copies every file untouched
    val out2 = s"$root/out2"
    val second = Layout.compactFiles(spark, out1, out2, target)
      .select("n_files", "action").as[(Long, String)].collect()
    assert(second.forall(_._1 == 1L),
      s"second-run bins not all single-file: ${second.toSeq}")
    assert(second.forall(_._2 == "copy"), second.toSeq.toString)
    val h1 = parquetFiles(out1).map(md5)
    val h2 = parquetFiles(out2).map(md5)
    assert(h1 == h2, "second-run copies must be byte-identical")
  }

  test("single-file bins are byte-identical copies of their source file") {
    val root = tmpDir("compact1")
    val src = s"$root/src"
    (1L to 300L).map(i => (i, i * 2)).toDF("a", "b")
      .repartition(4, col("a")).write.parquet(src)
    // a tiny target puts every file in its own bin: all copies
    val out = s"$root/out"
    val actions = Layout.compactFiles(spark, src, out, targetBytes = 1L)
      .select("action").as[String].collect()
    assert(actions.forall(_ == "copy"), actions.toSeq.toString)
    val srcHashes = parquetFiles(src).map(md5)
    val outHashes = parquetFiles(out).map(md5)
    assert(outHashes == srcHashes)
  }
}

/** The native `word_ngrams` kernel vs the composable HOF-nest
  * baseline — the shingling step of every LSH path. */
class WordNgramsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.ops.ApproxDedup

  test("kernel shingles == HOF shingles, every doc, n=2 and n=3") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    Seq(2, 3).foreach { n =>
      val rows = docs.select(
          ApproxDedup.wordNgrams(col("text"), n).as("k"),
          ApproxDedup.wordNgramsHof(col("text"), n).as("h"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n shingle mismatch")
      }
    }
  }

  test("edge cases: short docs, empty text, whitespace runs") {
    val df = Seq("one", "", "  leading", "trailing  ", "a  b   c",
        "dup gram dup gram dup")
      .toDF("text")
    val rows = df.select(
        ApproxDedup.wordNgrams(col("text"), 2).as("k"),
        ApproxDedup.wordNgramsHof(col("text"), 2).as("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("null text: kernel yields null (the HOF quirk of [\"\"] is NOT kept)") {
    val df = Seq(null.asInstanceOf[String]).toDF("text")
    val k = df.select(ApproxDedup.wordNgrams(col("text"), 2)).head()
    assert(k.isNullAt(0), "null doc must have no shingle set")
    // the HOF chain's documented quirk, pinned so a change is noticed:
    // concat_ws swallows the null into the empty-string shingle
    val h = df.select(ApproxDedup.wordNgramsHof(col("text"), 2)).head()
    assert(h.getSeq[String](0) == Seq(""))
  }

  test("shingle -> minhash now forms one codegen span (no HOF break)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = ApproxDedup.minhashSignature(
      docs.select(col("doc_id"),
        ApproxDedup.wordNgrams(col("text"), 2).as("_sh")),
      "doc_id", "_sh", 8)
    val plan = sig.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) (Project|Filter) \[?.*minhash_sig""".r
      .findFirstIn(plan).isDefined, plan.take(1500))
  }
}

/** The native `hll_bucket_rho` kernel vs the composable md5-hex →
  * conv → bin column chain (which is also what the SQL oracles
  * replay). */
class HllKernelSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.ops.Cardinality

  test("kernel (bucket, rho) == column-chain (bucket, rho), fixture + edges") {
    val fixture = spark.read
      .parquet("/root/testdata/sf0.01/orders.parquet")
      .select(col("o_orderpriority").cast("string").as("k"))
      .unionByName(Seq("", "a", "ü", "日本語", "x" * 500).toDF("k"))
    val packed = call_function("hll_bucket_rho", col("k"))
    val hv = Cardinality.hashOf(col("k"))
    val rows = fixture.select(
        shiftright(packed, 6).as("kb"),
        packed.bitwiseAND(63).cast("int").as("kr"),
        Cardinality.bucketOf(hv).as("cb"),
        Cardinality.rhoOf(hv).as("cr"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getInt(1) == r.getInt(3),
        s"kernel (${r.getLong(0)}, ${r.getInt(1)}) != " +
          s"chain (${r.getLong(2)}, ${r.getInt(3)})")
    }
  }

  test("hll_bucket_rho runs inside whole-stage codegen") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .select(call_function("hll_bucket_rho",
        col("o_orderpriority").cast("string")).as("p"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*hll_bucket_rho""".r.findFirstIn(plan).isDefined,
      plan.take(1500))
  }
}

/** The extended one-pass profiler: min/max/avg-length ride the SAME
  * single scan + single exchange as the HLL registers and null
  * counters — profiling more stats must not cost a second pass. */
class ProfilerPlanSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.ops.Cardinality

  test("register stage: one parquet scan, one Exchange, 3 columns or 1") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    Seq(Seq("o_orderstatus"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey")).foreach { cols =>
      val plan = Cardinality.profileRegisters(orders, cols)
        .queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).length
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(scans == 1, s"$cols: $scans scans\n${plan.take(1500)}")
      assert(exchanges == 1, s"$cols: $exchanges exchanges\n${plan.take(1500)}")
    }
  }

  test("min/max/avg_len agree with direct aggregation; all-null column stays null") {
    import spark.implicits._
    val df = Seq((1L, "apple"), (2L, "Banana"), (3L, null), (4L, "cherry"))
      .toDF("id", "fruit")
      .withColumn("empty", lit(null).cast("string"))
    val p = Cardinality.profile(df, Seq("fruit", "empty", "id"))
      .orderBy("colname").collect()
    val byCol = p.map(r => r.getString(0) -> r).toMap
    val fruit = byCol("fruit")
    assert(fruit.getAs[String]("min_val") == "Banana") // byte order: 'B' < 'a'
    assert(fruit.getAs[String]("max_val") == "cherry")
    assert(math.abs(fruit.getAs[Double]("avg_len") - (5 + 6 + 6) / 3.0) < 1e-12)
    val empty = byCol("empty")
    assert(empty.isNullAt(empty.fieldIndex("min_val")))
    assert(empty.isNullAt(empty.fieldIndex("avg_len")))
    assert(empty.getAs[Long]("distinct_est") == 0L)
    assert(byCol("id").getAs[String]("min_val") == "1")
    assert(byCol("id").getAs[String]("max_val") == "4")
  }
}

/** The hash-bucketed keyed store ([[graft.sinks.VersionedStore
  * .upsert]]): keyed-replace semantics equal to the monolithic
  * swap-by-rename store, and — the point — an upsert leaves every
  * untouched bucket's files BIT-IDENTICAL (never opened, never
  * rewritten). */
class PartitionedStoreSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.sinks.{Sinks, VersionedStore}

  private def fileState(storeDir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(storeDir)
    val it = java.nio.file.Files.walk(root).iterator()
    val out = scala.collection.mutable.Map.empty[String, String]
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p)) {
        val bytes = java.nio.file.Files.readAllBytes(p)
        val md = java.security.MessageDigest.getInstance("MD5")
        out(root.relativize(p).toString) =
          md.digest(bytes).map("%02x".format(_)).mkString
      }
    }
    out.toMap
  }

  test("keyed replace matches the monolithic store; untouched buckets stay bit-identical") {
    val store = tmpDir("pstore") + "/s"
    val mono = tmpDir("mstore") + "/s"
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedStore.upsert(base, Seq("id"), store, nBuckets = 8)
    Sinks.upsertParquet(base, Seq("id"), mono)

    val before = fileState(store)
    // a one-key batch touches exactly one bucket
    val delta = Seq((7L, "UPDATED")).toDF("id", "v")
    VersionedStore.upsert(delta, Seq("id"), store, nBuckets = 8)
    Sinks.upsertParquet(delta, Seq("id"), mono)
    val after = fileState(store)

    val p = VersionedStore.read(spark, store)
      .as[(Long, String)].collect().toSeq.sorted
    val m = spark.read.parquet(mono)
      .as[(Long, String)].collect().toSeq.sorted
    assert(p == m)
    assert(p.contains((7L, "UPDATED")) && p.size == 200)

    // which bucket did key 7 land in?
    val touched = base.sparkSession.range(1).select(
      pmod(hash(lit(7L)), lit(8)).as("b")).head().getInt(0)
    val touchedPrefix = f"b$touched%05d/"
    // bucket-internal files only: the top-level commit log is EXPECTED
    // to grow on every upsert — the bit-identity contract is about
    // bucket data files
    val bucketFiles = (before.keySet ++ after.keySet)
      .filter(_.matches("^b\\d{5}/.*"))
    val changed = bucketFiles.filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty, "the touched bucket must change")
    assert(changed.forall(_.startsWith(touchedPrefix)),
      s"files outside $touchedPrefix changed: $changed")
    // nothing is rewritten in place: every file that existed before
    // (the touched bucket's old generation included) keeps its bytes
    assert(before.filter(e => bucketFiles(e._1))
      .forall { case (k, md5) => after.get(k).contains(md5) })
  }

  test("re-upserting the same batch is a no-op; bucket count is pinned at creation") {
    val store = tmpDir("pstore2") + "/s"
    val base = (1L to 50L).map(i => (i, i * 3)).toDF("id", "x")
    VersionedStore.upsert(base, Seq("id"), store, nBuckets = 4)
    val once = VersionedStore.read(spark, store)
      .as[(Long, Long)].collect().toSeq.sorted
    // a different nBuckets on a later call must NOT re-shard the store
    VersionedStore.upsert(base, Seq("id"), store, nBuckets = 16)
    val twice = VersionedStore.read(spark, store)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(once == twice)
    assert(VersionedStore.bucketCountOf(store).contains(4))
    val buckets = java.nio.file.Files.list(
        java.nio.file.Paths.get(store)).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (buckets.hasNext) names += buckets.next().getFileName.toString
    assert(names.count(_.matches("^b\\d{5}$")) <= 4,
      s"store re-sharded past its creation bucket count: $names")
  }
}

/** The native `simhash_sig` kernel vs the composable explode +
  * conditional-sum groupBy baseline — docs/KERNELS.md's
  * bitwise-equality rule. */
class SimhashKernelSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet")

  test("kernel fingerprint == explode-form fingerprint, every doc") {
    val fast = ApproxDedup.simhash(docs, "doc_id", col("text"), 60)
      .orderBy("doc_id").collect()
    val slow = ApproxDedup.simhashHof(docs, "doc_id", col("text"), 60)
      .orderBy("doc_id").collect()
    assert(fast.length == slow.length && fast.nonEmpty)
    fast.zip(slow).foreach { case (f, s) =>
      assert(f == s, s"fingerprint mismatch for doc ${f.getLong(0)}")
    }
  }

  test("narrow bit widths agree too (the bits parameter truncates)") {
    val d = docs.limit(50)
    val fast = ApproxDedup.simhash(d, "doc_id", col("text"), 16)
      .orderBy("doc_id").collect()
    val slow = ApproxDedup.simhashHof(d, "doc_id", col("text"), 16)
      .orderBy("doc_id").collect()
    assert(fast.toSeq == slow.toSeq)
  }

  test("null text drops the document; empty text keeps it (one '' token)") {
    val df = Seq((1L, "a b a"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val fast = ApproxDedup.simhash(df, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    val slow = ApproxDedup.simhashHof(df, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(fast == Seq(1L, 3L) && slow == Seq(1L, 3L))
    // and the empty-token fingerprint itself agrees
    val f3 = ApproxDedup.simhash(df, "doc_id", col("text"))
      .filter(col("doc_id") === 3).select("simhash").as[Long].head()
    val s3 = ApproxDedup.simhashHof(df, "doc_id", col("text"))
      .filter(col("doc_id") === 3).select("simhash").as[Long].head()
    assert(f3 == s3)
  }

  test("simhash_sig runs inside whole-stage codegen, zero exchanges") {
    val sig = ApproxDedup.simhash(docs, "doc_id", col("text"), 60)
    val plan = sig.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*simhash_sig""".r.findFirstIn(plan).isDefined,
      plan.take(1500))
    assert(!plan.contains("Exchange"), plan.take(1500))
  }
}

/** q25/q78/q84/q94's persisted-index contract: after the one-time
  * bootstrap, a serve-path query CONSTRUCTS with zero Spark jobs (the
  * retrain forms ran kmeansFit/pqFit collect()s right there) and its
  * plan scans the index parquet, not a training DAG. */
class NoRetrainSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def constructionJobs(build: => org.apache.spark.sql.DataFrame)
      : (Seq[Int], String) = {
    val (df, cost) = Meter.measure(spark)(build)
    (cost.jobs.map(_.tasks), df.queryExecution.executedPlan.toString)
  }

  // The serve-path contract: plan CONSTRUCTION may read parquet
  // footers (1-task driver metadata jobs, one per index table — the
  // retrain forms instead ran kmeansFit/pqFit collect()s here: many
  // multi-task shuffle jobs), and the plan scans index parquet.
  private def assertMetadataOnly(tag: String, jobs: Seq[Int]): Unit = {
    assert(jobs.length <= 4 && jobs.forall(_ <= 2),
      s"$tag construction launched ${jobs.length} jobs with task counts " +
        s"$jobs (retraining?)")
  }

  test("IVF serve path: metadata-only construction, plan reads index parquet") {
    SparkEntry.queries("q25_ivf_topk")(spark, dir).count() // bootstrap
    val (jobs, plan) = constructionJobs(
      SparkEntry.queries("q25_ivf_topk")(spark, dir))
    assertMetadataOnly("q25", jobs)
    assert(plan.contains("ivf_index_cent") && plan.contains("ivf_index_asg"),
      plan.take(2000))
  }

  test("PQ serve path: metadata-only construction, plan reads codebook+codes") {
    SparkEntry.queries("q84_pq_topk")(spark, dir).count() // bootstrap
    val (jobs, plan) = constructionJobs(
      SparkEntry.queries("q84_pq_topk")(spark, dir))
    assertMetadataOnly("q84", jobs)
    assert(plan.contains("pq_index_codebook") && plan.contains("pq_index_codes"),
      plan.take(2000))
    // the corpus's raw vectors never enter the serve plan: embeddings
    // parquet appears once, for the 5 query vectors only
    val embScans = "embeddings\\.parquet".r.findAllIn(plan).length
    assert(embScans <= 1, s"corpus embeddings scanned $embScans times:\n" +
      plan.take(2000))
  }

  test("IVF refresh: centroids frozen, postings == assign-all-to-old-centroids") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val idx0 = ops.Similarity.ivfIndexBuild(old, "vec_id", "embedding", 8, 2)
    val refreshed = ops.Similarity.ivfIndexUpsert(idx0, batch,
      "vec_id", "embedding")
    // the refresh may only APPEND postings; centroids are the same table
    assert(refreshed.centroids eq idx0.centroids)
    // and the resulting posting lists equal assigning the WHOLE corpus
    // to the frozen centroids in one shot
    val expect = ops.Similarity.ivfAssign(emb,
        idx0.centroids.select(col("centroid_id"),
          col("centv").as("embedding")),
        "vec_id", "centroid_id", "embedding")
      .orderBy("corpus_id").collect()
    val got = refreshed.assignments.orderBy("corpus_id").collect()
    assert(got.toSeq == expect.toSeq)
    // queue redelivery: upserting the same batch again adds NOTHING
    val again = ops.Similarity.ivfIndexUpsert(refreshed, batch,
      "vec_id", "embedding")
    assert(again.assignments.orderBy("corpus_id").collect().toSeq
      == got.toSeq, "replayed batch must not duplicate postings")
  }

  test("PQ refresh: codebook frozen, codes == encode-all-with-old-codebook") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val idx0 = ops.Similarity.pqIndexBuild(old, "vec_id", "embedding",
      m = 4, dsub = 16, ksub = 16, iters = 1)
    val refreshed = ops.Similarity.pqIndexUpsert(idx0, batch,
      "vec_id", "embedding", m = 4, dsub = 16)
    assert(refreshed.codebook eq idx0.codebook)
    val expect = ops.Similarity.pqEncode(emb, "vec_id", "embedding",
        m = 4, dsub = 16, idx0.codebook)
      .orderBy("corpus_id", "s").collect()
    val got = refreshed.codes.orderBy("corpus_id", "s").collect()
    assert(got.toSeq == expect.toSeq)
    val again = ops.Similarity.pqIndexUpsert(refreshed, batch,
      "vec_id", "embedding", m = 4, dsub = 16)
    assert(again.codes.orderBy("corpus_id", "s").collect().toSeq
      == got.toSeq, "replayed batch must not duplicate codes")
  }

  test("FromIndex == retrain forms, row for row") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val idx = ops.Similarity.ivfIndexBuild(emb, "vec_id", "embedding", 8, 2)
    val trained = ops.Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 2)
    val cents = trained.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("vec_id", "embedding")
    val oldIvf = ops.Similarity.ivfTopK(q, emb, cents,
      "vec_id", "vec_id", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect()
    val newIvf = ops.Similarity.ivfTopKFromIndex(q, idx,
      "vec_id", "embedding", k = 5, nprobe = 1)
      .orderBy("query_id", "rank").collect()
    assert(newIvf.toSeq == oldIvf.toSeq)
    val oldProbed = ops.Similarity.ivfTopKProbed(q, emb, cents,
      "vec_id", "vec_id", "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect()
    val newProbed = ops.Similarity.ivfTopKFromIndex(q, idx,
      "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect()
    assert(newProbed.toSeq == oldProbed.toSeq)
  }
}

/** The native `dhash_sig` kernel vs the composable 66-cell
  * transform/aggregate HOF baseline. */
class DhashKernelSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet")
    .select(col("doc_id").as("img_id"), col("text").as("px"))

  test("kernel dhash == HOF-form dhash, every image (incl. re-encodes)") {
    val all = docs.unionByName(
      docs.select((col("img_id") + 1000000L).as("img_id"),
        Multimodal.fakeReencode(col("px")).as("px")))
    val fast = Multimodal.dhashSignatures(all, "img_id", col("px"))
      .orderBy("img_id").collect()
    val slow = Multimodal.dhashSignaturesHof(all, "img_id", col("px"))
      .orderBy("img_id").collect()
    assert(fast.length == slow.length && fast.nonEmpty)
    fast.zip(slow).foreach { case (f, s) =>
      assert(f == s, s"dhash mismatch for img ${f.getLong(0)}")
    }
  }

  test("short/empty scanlines agree (empty cells, n < 66)") {
    val df = Seq((1L, ""), (2L, "abc"), (3L, "x" * 65), (4L, "y" * 66),
        (5L, (0 until 200).map(i => ('a' + i % 26).toChar).mkString))
      .toDF("img_id", "px")
    val fast = Multimodal.dhashSignatures(df, "img_id", col("px"))
      .orderBy("img_id").collect()
    val slow = Multimodal.dhashSignaturesHof(df, "img_id", col("px"))
      .orderBy("img_id").collect()
    assert(fast.toSeq == slow.toSeq)
  }

  test("non-ASCII scanlines agree (code-point positions and values)") {
    val df = Seq((1L, "héllo wörld ünïcode " * 8), (2L, "日本語テキスト" * 15))
      .toDF("img_id", "px")
    val fast = Multimodal.dhashSignatures(df, "img_id", col("px"))
      .orderBy("img_id").collect()
    val slow = Multimodal.dhashSignaturesHof(df, "img_id", col("px"))
      .orderBy("img_id").collect()
    assert(fast.toSeq == slow.toSeq)
  }

  test("dhash_sig runs inside whole-stage codegen, zero exchanges") {
    val sig = Multimodal.dhashSignatures(docs, "img_id", col("px"))
    val plan = sig.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*dhash_sig""".r.findFirstIn(plan).isDefined,
      plan.take(1500))
    assert(!plan.contains("Exchange"), plan.take(1500))
  }
}
