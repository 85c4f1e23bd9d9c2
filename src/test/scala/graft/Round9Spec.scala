package graft

import org.apache.spark.sql.functions._

import graft.ops.{ApproxDedup, Layout}

/** The distributed compaction executor's SCALE contract: the number of
  * Spark jobs [[graft.ops.Layout.compactFiles]] runs is a small
  * constant, INDEPENDENT of the bin count — all multi-file bins merge
  * in one `partitionBy(bin)` write and all singleton copies run in one
  * executor-side job. The round-8 implementation ran one job per
  * multi-file bin from a driver loop (plus driver-thread NIO copies);
  * this spec would have failed it. */
class CompactionOneJobSpec extends SparkSpec {
  import spark.implicits._

  test("job count is constant in the bin count; output complete; _SUCCESS written") {
    val root = tmpDir("compact_onejob")
    val src = s"$root/src"
    // 40 same-sized small files; target ≈ 3 files/bin → ~13 multi-file
    // bins, plus two oversized compact files to exercise the copy path
    val small = (1L to 8000L).map(i => (i, s"row$i")).toDF("id", "v")
    small.repartition(40, col("id")).write.parquet(src)
    val big = (100000L to 108000L).map(i => (i, s"R$i" * 40)).toDF("id", "v")
    big.coalesce(1).write.mode("append").parquet(src)
    val sizes = {
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen)
    }
    val target = sizes.sorted.take(40).sum / 13

    val out = s"$root/out"
    val (summary, cost) =
      Meter.measure(spark)(Layout.compactFiles(spark, src, out, target).collect())
    val jobs = cost.jobs.size

    val rewrites = summary.count(_.getString(3) == "rewrite")
    val copies = summary.count(_.getString(3) == "copy")
    assert(rewrites >= 8, s"fixture must produce many multi-file bins: $rewrites")
    assert(copies >= 1, s"fixture must exercise the copy path: $copies")
    // constant job budget: listing + copy job + merge write (AQE may
    // stage the shuffle) + small metadata jobs — NOT O(bins). The old
    // driver loop would have run >= rewrites jobs here.
    assert(jobs < rewrites,
      s"job count must not scale with bin count: $jobs jobs for " +
        s"$rewrites rewrite bins")
    assert(jobs <= 8,
      s"expected a constant handful of jobs, got $jobs")

    // completeness: every row survives, _SUCCESS marks the output
    val pre = small.unionByName(big).as[(Long, String)].collect().toSeq.sorted
    val post = spark.read.parquet(out).as[(Long, String)]
      .collect().toSeq.sorted
    assert(post == pre)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_SUCCESS")),
      "compacted output must carry the store's _SUCCESS convention")
  }
}

/** The digest-of-digests "-N" finisher on q125's REAL binaryFile
  * fixture: DuckDB cannot md5 raw digest bytes, so the oracle stops at
  * the per-part digest ledger — this golden spec closes the last step,
  * comparing [[graft.functions.MultipartEtag.etagOfFiles]] (binaryFile
  * scan → ranged slices → native finisher) against the scalar
  * reference implementation over the same file bytes, at a part size
  * that yields multi-part "-N" etags and one that yields single-part
  * plain-md5 etags. */
class EtagFilesSpec extends SparkSpec {
  import graft.functions.MultipartEtag

  test("etagOfFiles == scalar reference on every fixture file, both part sizes") {
    val fix = Queries.etagFixture(spark, "/root/testdata/sf0.001")
    val files = {
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walk(java.nio.file.Paths.get(fix)).forEach { p =>
        if (p.toString.endsWith(".txt")) out += p
      }
      out.toSeq
    }
    assert(files.nonEmpty)
    for (ps <- Seq(256, 65536)) {
      val expected = files.map { p =>
        p.toAbsolutePath.toString ->
          MultipartEtag.etagOf(java.nio.file.Files.readAllBytes(p), ps)
      }.toMap
      val got = MultipartEtag.etagOfFiles(spark, s"$fix/*/*.txt", ps)
        .collect()
        .map(r => new java.net.URI(r.getString(0)).getPath -> r.getString(1))
        .toMap
      assert(got.keySet == expected.keySet,
        s"ps=$ps: file sets differ (${got.size} vs ${expected.size})")
      got.foreach { case (p, etag) =>
        assert(etag == expected(p), s"ps=$ps mismatch for $p")
      }
      if (ps == 256)
        assert(got.values.exists(_.contains("-")),
          "fixture must exercise multi-part -N etags at 256B parts")
      else
        assert(got.values.forall(!_.contains("-")),
          "64KiB parts must all be single-part plain md5")
    }
  }
}

/** The bucketed keyed store as a DataSource V2 table
  * ([[graft.connectors.GraftVStoreSource]]): key filters push down and
  * prune BUCKET chains at plan time, so the q05 dedup-gate probe
  * (batch-get of a landing batch's message ids against the
  * sent-message ledger) scans only the buckets those keys hash into —
  * the DynamoDB-batch-get shape, not a store scan. */
class StoreSourceSpec extends SparkSpec {
  import spark.implicits._
  import graft.sinks.VersionedStore

  private def load(store: String) =
    spark.read.format("graft-vstore").option("path", store).load()

  private val dir = "/root/testdata/sf0.001"

  private def tasks = spark.read.parquet(s"$dir/lineitem.parquet")
    .withColumn("msg_id",
      md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))))

  private def buildStore(): String = {
    val store = tmpDir("dsv2_store") + "/ledger"
    VersionedStore.upsert(
      tasks.filter(col("l_suppkey") % 10 === 0)
        .select(col("msg_id"), col("l_orderkey").as("sent_order")),
      Seq("msg_id"), store, nBuckets = 16)
    store
  }

  test("point lookup prunes to one bucket; batch-get probes only its buckets") {
    val store = buildStore()
    val ds = load(store)
    val plain = VersionedStore.read(spark, store)
    val total = plain.count()
    assert(ds.count() == total, "full DSv2 scan must equal the plain reader")
    val nLive = ds.rdd.getNumPartitions
    assert(nLive == 16, s"expected 16 live buckets, got $nLive")

    // point get: one key -> one bucket planned, filter visible in plan
    val key = plain.select("msg_id").orderBy("msg_id").limit(1)
      .as[String].collect().head
    val point = ds.filter(col("msg_id") === key)
    val plan = point.queryExecution.executedPlan.toString
    assert(plan.contains("chains 1/16"), plan.take(1500))
    assert(plan.contains("pushedFilters [EqualTo(msg_id"), plan.take(1500))
    assert(point.rdd.getNumPartitions == 1)
    val exp = plain.filter(col("msg_id") === key).collect().toSeq
    assert(point.collect().toSeq == exp && exp.size == 1)

    // q05's J2 probe as a batch get: the landing batch's ids IN-probe
    // the ledger -> at most |keys| buckets planned, never the store
    val batchKeys = plain.select("msg_id").orderBy("msg_id").limit(5)
      .as[String].collect().toSeq
    val probe = ds.filter(col("msg_id").isin(batchKeys: _*))
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("pushedFilters [In(msg_id"), probePlan.take(1500))
    val probed = probe.rdd.getNumPartitions
    assert(probed <= 5 && probed < nLive,
      s"batch-get must prune buckets: planned $probed of $nLive")
    // fetched ledger rows answer the anti-join exactly like a full scan
    val batch = tasks.filter(col("msg_id").isin(batchKeys: _*))
    val viaProbe = batch.join(probe.select("msg_id"), Seq("msg_id"), "left_anti")
      .select("msg_id").as[String].collect().toSeq.sorted
    val viaFull = batch.join(plain.select("msg_id"), Seq("msg_id"), "left_anti")
      .select("msg_id").as[String].collect().toSeq.sorted
    assert(viaProbe == viaFull && viaProbe.isEmpty)
  }

  test("stats pruning: a freshness range drops untouched buckets at plan time") {
    val store = tmpDir("dsv2_skip") + "/ledger"
    // e1 seeds every bucket at u=1; the updates then touch TWO keys
    VersionedStore.upsert(
      spark.range(1L, 201L).select(col("id").as("k"), lit(1L).as("u")),
      Seq("k"), store, nBuckets = 16)
    VersionedStore.upsert(
      Seq((7L, 2L), (53L, 3L)).toDF("k", "u"), Seq("k"), store)
    val ds = load(store)
    val fresh = ds.filter(col("u") >= 2L)
    // plan-time chain pruning from the per-generation _cstats
    // manifests: only the two rewritten buckets survive
    val planned = fresh.rdd.getNumPartitions
    assert(planned <= 2 && planned < 16,
      s"stats pruning must drop untouched buckets, planned $planned")
    assert(fresh.queryExecution.executedPlan.toString
      .contains("GreaterThanOrEqual(u"), "the range filter must be pushed")
    // and the rows are exact (the filter is residual as always)
    assert(fresh.select("k", "u").as[(Long, Long)].collect().toSeq.sorted
      == Seq((7L, 2L), (53L, 3L)))
    // the conservative side: a range every bucket's stats admit plans
    // the whole store
    assert(ds.filter(col("u") >= 1L).rdd.getNumPartitions == 16)
    // equality on a non-key value column prunes by stats too
    assert(ds.filter(col("u") === 3L).rdd.getNumPartitions <= 1)
  }

  test("array columns and column pruning round-trip through the DSv2 reader") {
    val store = tmpDir("dsv2_store_arr") + "/sets"
    val df = Seq(
      (1L, Seq("a b", "b c"), 2.5),
      (2L, Seq.empty[String], -1.0),
      (3L, null.asInstanceOf[Seq[String]], 0.0)
    ).toDF("id", "shingles", "w")
    VersionedStore.upsert(df, Seq("id"), store, nBuckets = 4)
    val ds = load(store)
    val back = ds.select("id", "shingles", "w")
      .as[(Long, Seq[String], Double)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, Seq("a b", "b c"), 2.5),
      (2L, Seq.empty[String], -1.0), (3L, null, 0.0)))
    // pruned read: only the array column
    val shOnly = ds.select("shingles").collect()
    assert(shOnly.length == 3)
    // point lookup on the long key prunes too
    val one = ds.filter(col("id") === 2L)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select("w").as[Double].collect().toSeq == Seq(-1.0))
  }
}

/** Two maintainers, one root: a [[graft.streaming.RefreshStream]]
  * (corpus ledgers + accepted store) and an
  * [[graft.streaming.IndexStream]] (ANN postings) land INTERLEAVED
  * batches concurrently against stores under the same root, both are
  * killed mid-stream and resumed — and each family's state must equal
  * its one-shot form row-for-row. The prior specs prove each stream
  * alone; this one proves they don't interfere: disjoint store
  * directories, stream-specific checkpoints, and atomic per-store
  * epoch commits between the two writers. */
class ConcurrentStreamsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.streaming.{IndexStream, RefreshStream}

  private val dir = "/root/testdata/sf0.01"

  test("interleaved kill/resume of both streams == each one-shot form") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 0)
    val oldEmb = emb.filter(col("vec_id") % 10 =!= 0)
    val landDocs = docs.filter(col("doc_id") % 10 === 0)
      .orderBy("doc_id").collect()
    val landVecs = emb.filter(col("vec_id") % 10 === 0)
      .orderBy("vec_id").collect()
    val docBatches = landDocs.grouped((landDocs.length + 1) / 2).toSeq
    val vecBatches = landVecs.grouped((landVecs.length + 1) / 2).toSeq
    assert(docBatches.size == 2 && vecBatches.size == 2)

    val root = tmpDir("concurrent_streams")
    val (docLand, vecLand) = (s"$root/landing_docs", s"$root/landing_vecs")
    val refresh = RefreshStream(
      id = "doc_id",
      fp = md5(concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 8))),
      shingles = graft.ops.ApproxDedup.wordNgrams(col("text"), 2),
      k = 16, bands = 4, rowsPerBand = 4, lexThreshold = 0.5,
      vecId = "vec_id", vecCol = "embedding",
      semK = 8, semIters = 2, semThreshold = 0.3)
    val index = IndexStream("vec_id", "embedding")
    refresh.bootstrap(oldDocs, oldEmb, root)
    index.bootstrap(oldEmb, k = 8, iters = 2, root)

    def writeDocs(i: Int): Unit = spark.createDataFrame(
        spark.sparkContext.parallelize(docBatches(i).toIndexedSeq, 1),
        docs.schema)
      .write.mode("append").parquet(docLand)
    def writeVecs(i: Int): Unit = spark.createDataFrame(
        spark.sparkContext.parallelize(vecBatches(i).toIndexedSeq, 1),
        emb.schema)
      .write.mode("append").parquet(vecLand)

    // file 1 of each lands; both queries run CONCURRENTLY, then both
    // are killed mid-stream
    writeDocs(0); writeVecs(0)
    val r1 = refresh.start(spark, docLand, docs.schema, emb, root)
    val i1 = index.start(spark, vecLand, emb.schema, root)
    r1.processAllAvailable(); i1.processAllAvailable()
    r1.stop(); i1.stop()
    // resume both from their (stream-specific) checkpoints, land the
    // remaining file of each, drain both
    val r2 = refresh.start(spark, docLand, docs.schema, emb, root)
    val i2 = index.start(spark, vecLand, emb.schema, root)
    writeDocs(1); writeVecs(1)
    r2.processAllAvailable(); i2.processAllAvailable()
    r2.stop(); i2.stop()

    // refresh family == one-shot q110 composition
    val accepted = refresh.accepted(spark, root)
      .select("doc_id", "source").as[(Long, String)].collect().toSeq.sorted
    val oneShotDocs = Queries.all("q110_refresh_pipeline")(spark, dir)
      .select("doc_id", "source").as[(Long, String)].collect().toSeq.sorted
    assert(accepted == oneShotDocs)
    assert(accepted.nonEmpty && accepted.size < landDocs.length)

    // index family == one-shot frozen-centroid upsert of all vectors
    val postings = index.index(spark, root).assignments
      .select(col("corpus_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    val idx0 = ops.Similarity.ivfIndexBuild(oldEmb, "vec_id", "embedding", 8, 2)
    val oneShotAsg = ops.Similarity
      .ivfIndexUpsert(idx0, emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding")
      .assignments.select(col("corpus_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(postings == oneShotAsg)
    assert(postings.size == emb.count())
  }
}

/** The persisted hot-block histogram ([[graft.ops.ApproxDedup
  * .blockHistogram]]) — ledger state for the pair-join guard: the
  * fail-fast contract survives the move from a per-run corpus scan to
  * a metadata-sized table read, including a block that goes hot only
  * when the ledger counts and a landing batch's delta combine. */
class BlockHistogramSpec extends SparkSpec {
  import spark.implicits._

  private def docs(block: String, ids: Range) =
    ids.map(i => (i.toLong, block, Seq(s"w$i", "shared"))).toDF("id", "b", "s")

  test("hot block raises through the persisted-histogram guard") {
    val hot = docs("hot", 0 until 1200).unionByName(docs("cold", 5000 until 5010))
    val hist = ApproxDedup.blockHistogram(hot, "b")
    val e = intercept[IllegalArgumentException] {
      ApproxDedup.jaccardPairs(hot, "id", "b", "s", 0.1,
        maxBlockRows = 1000, histogram = Some(hist)).count()
    }
    assert(e.getMessage.contains("hot block"), e.getMessage)
    assert(e.getMessage.contains("'hot'=1200"), e.getMessage)
  }

  test("ledger + batch delta: a block the BATCH pushes over the limit raises") {
    val ledgerDocs = docs("warm", 0 until 600)
    val batch = docs("warm", 10000 until 10600)
    val ledgerHist = ApproxDedup.blockHistogram(ledgerDocs, "b")
    // neither side alone exceeds 1000; the merged view must
    val merged = ApproxDedup.updatedBlockHistogram(ledgerHist, batch, "b")
    val all = ledgerDocs.unionByName(batch)
    val e = intercept[IllegalArgumentException] {
      ApproxDedup.jaccardPairs(all, "id", "b", "s", 0.1,
        maxBlockRows = 1000, histogram = Some(merged)).count()
    }
    assert(e.getMessage.contains("'warm'=1200"), e.getMessage)
    // and each side alone passes the same guard
    ApproxDedup.requireBoundedBlocksHist(ledgerHist, 1000, "spec")
    ApproxDedup.requireBoundedBlocksHist(
      ApproxDedup.blockHistogram(batch, "b"), 1000, "spec")
  }

  test("bounded blocks pass and pair results are unchanged by the guard path") {
    val ok = docs("a", 0 until 40).unionByName(docs("b", 100 until 140))
    val hist = ApproxDedup.blockHistogram(ok, "b")
    val viaHist = ApproxDedup.jaccardPairs(ok, "id", "b", "s", 0.1,
      maxBlockRows = 1000, histogram = Some(hist))
      .orderBy("id_a", "id_b").collect().toSeq
    val viaScan = ApproxDedup.jaccardPairs(ok, "id", "b", "s", 0.1,
      maxBlockRows = 1000)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(viaHist == viaScan && viaHist.nonEmpty)
  }
}

/** [[graft.ops.Similarity.driftReport]] — the retrain decision over a
  * frozen-centroid IVF index: an in-distribution landing batch keeps
  * the index, a genuinely drifted batch (a direction the training
  * corpus never contained) flips the verdict to `retrain`. */
class DriftGateSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Similarity

  // deterministic synthetic embeddings: near-axis clusters + jitter
  private def vec(id: Long, axis: Int, dims: Int = 8): Seq[Double] =
    Seq.tabulate(dims) { d =>
      (if (d == axis) 10.0 else 0.0) + ((id * 31 + d * 17) % 7).toDouble / 10.0
    }

  test("in-distribution batch keeps; drifted batch flips to retrain") {
    val corpus = (0L until 200L).map(i => (i, vec(i, (i % 4).toInt)))
      .toDF("id", "v")
    val index = Similarity.ivfIndexBuild(corpus, "id", "v", k = 4, iters = 2)

    def report(batch: org.apache.spark.sql.DataFrame) =
      Similarity.driftReport(index, batch, "id", "v",
          k = 3, nprobe = 1, sampleMod = 2,
          maxShiftPpm = 150000L, minRecallPpm = 200000L)
        .collect().head

    // same generator, new ids: the batch lands across all 4 clusters
    val inDist = (1000L until 1100L).map(i => (i, vec(i, (i % 4).toInt)))
      .toDF("id", "v")
    val keep = report(inDist)
    assert(keep.getAs[String]("verdict") == "keep", keep.toString)

    // a direction the corpus never contained: the whole batch piles
    // onto one nearest centroid -> TV distance jumps
    val drifted = (2000L until 2100L).map(i => (i, vec(i, 7)))
      .toDF("id", "v")
    val retrain = report(drifted)
    assert(retrain.getAs[String]("verdict") == "retrain", retrain.toString)
    assert(retrain.getAs[Long]("shift_ppm") > keep.getAs[Long]("shift_ppm"))
  }
}

/** The combined IVF-PQ index ([[graft.ops.Similarity.IvfPqIndex]]):
  * cell pruning and PQ compression compose without changing either
  * half's arithmetic — with nprobe=k the cell filter admits everything
  * and the serve equals the pure-PQ serve row-for-row; with nprobe=1
  * every candidate comes from the query's own probed cell; the
  * incremental refresh freezes both trained tables and replays
  * idempotently. */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Similarity

  private val Dims = 8
  private val M = 2
  private val Dsub = 4

  private def vec(id: Long, axis: Int): Seq[Double] =
    Seq.tabulate(Dims) { d =>
      (if (d == axis) 10.0 else 0.0) + ((id * 31 + d * 17) % 7).toDouble / 10.0
    }

  private def corpus(ids: Range) =
    ids.map(i => (i.toLong, vec(i.toLong, i % 4))).toDF("id", "v")

  private def build(df: org.apache.spark.sql.DataFrame) =
    Similarity.ivfPqIndexBuild(df, "id", "v",
      k = 4, iters = 2, m = M, dsub = Dsub, ksub = 4, pqIters = 1)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("nprobe=k admits all cells: serve equals the pure-PQ serve") {
    val c = corpus(0 until 120)
    val idx = build(c)
    val pq = Similarity.PqIndex(idx.codebook,
      idx.codes.select(col("corpus_id"), col("s"), col("code")))
    val q = c.filter(col("id") < 4)
    val combined = Similarity.ivfPqTopKFromIndex(q, idx, "id", "v",
      m = M, dsub = Dsub, k = 5, nprobe = 4)
    val pure = Similarity.pqTopKFromIndex(q, pq, "id", "v",
      m = M, dsub = Dsub, k = 5)
    assert(rows(combined) == rows(pure))
    assert(combined.count() == 4 * 5)
  }

  test("nprobe=1 candidates are confined to the query's probed cell") {
    val c = corpus(0 until 120)
    val idx = build(c)
    val q = c.filter(col("id") < 8)
    val served = Similarity.ivfPqTopKFromIndex(q, idx, "id", "v",
      m = M, dsub = Dsub, k = 5, nprobe = 1)
    // the probed cell is the query's own assignment (queries are
    // corpus members in this fixture)
    val own = idx.codes.select(col("corpus_id"), col("centroid_id")).distinct()
    val escaped = served
      .join(own.withColumnRenamed("corpus_id", "query_id")
        .withColumnRenamed("centroid_id", "q_cell"), Seq("query_id"))
      .join(own.withColumnRenamed("centroid_id", "c_cell"), Seq("corpus_id"))
      .filter(col("q_cell") =!= col("c_cell"))
    assert(escaped.count() == 0)
  }

  test("frozen-table refresh: replay-idempotent, centroids/codebook untouched") {
    val old = corpus(0 until 100)
    val idx = build(old)
    val batch = corpus(1000 until 1050)
    val once = Similarity.ivfPqIndexUpsert(idx, batch, "id", "v", M, Dsub)
    val twice = Similarity.ivfPqIndexUpsert(once, batch, "id", "v", M, Dsub)
    assert(rows(once.codes) == rows(twice.codes))
    assert(once.codes.count() == idx.codes.count() + 50 * M)
    assert(rows(once.centroids) == rows(idx.centroids))
    assert(rows(once.codebook) == rows(idx.codebook))
    // refreshed members are immediately servable
    val q = batch.limit(2)
    val served = Similarity.ivfPqTopKFromIndex(q, once, "id", "v",
      m = M, dsub = Dsub, k = 3, nprobe = 4)
    assert(served.count() == 2 * 3)
  }
}

/** Duplicated-span mining ([[graft.ops.Dedup.dupSpans]]): repeated
  * passages surface as maximal merged spans, unique text never
  * surfaces, and within-document boilerplate counts as duplication. */
class DupSpansSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Dedup

  test("cross-document copied passage yields one merged span per side") {
    val copied = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"unique one two three $copied tail1 tail2 tail3"),
      (2L, s"other prefix words here $copied x y z w"),
      (3L, "entirely different text with no repeats at all ok")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", col("text"), n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 3 is clean
    assert(!spans.exists(_._1 == 3L))
    // docs 1+2 each report exactly ONE maximal span covering the
    // 8-token copied passage (5 overlapping 4-gram sites merge)
    val d1 = spans.filter(_._1 == 1L)
    val d2 = spans.filter(_._1 == 2L)
    assert(d1.length == 1 && d2.length == 1, spans.mkString(","))
    assert(d1.head._3 - d1.head._2 + 1 == 8, d1.head.toString)
    assert(d2.head._3 - d2.head._2 + 1 == 8)
    assert(d1.head._4 == 5 && d2.head._4 == 5)
    // 1-based positions: doc 1's copy starts at token 5
    assert(d1.head._2 == 5L)
    assert(d2.head._2 == 5L)
  }

  test("within-document repetition is duplication; short docs drop") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "too short")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", col("text"), n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((1L, 1L, 8L)))
  }

  test("distant repeats stay separate spans; near repeats merge") {
    val gap = (1 to 20).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b c d $gap a b c d"),
      (2L, s"x a b c d y")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", col("text"), n = 4)
    val d1 = spans.filter(col("doc_id") === 1L).collect()
    assert(d1.length == 2, d1.mkString(","))
  }
}

/** The linear quality classifier ([[graft.ops.TextAnalysis.linearScore]]):
  * margins are exact fixed-point sums over the broadcast model, docs
  * with zero vocabulary hits still score (margin = bias), and the
  * keep/drop threshold sits at margin 0. */
class LinearScoreSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.TextAnalysis

  test("margin = sum of hit weights + bias; zero-hit docs score bias") {
    val model = Seq(("good", 50000L), ("bad", -80000L)).toDF("term", "w_fp")
    val docs = Seq(
      (1L, "good good neutral"),
      (2L, "bad thing"),
      (3L, "nothing from vocab")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.linearScore(docs, "doc_id", col("text"),
        model, biasFp = 10000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 110000L, "keep")))
    assert(out(2L) == ((1L, -70000L, "drop")))
    assert(out(3L) == ((0L, 10000L, "keep")))
  }

  test("case-folding applies and every input doc emits exactly one row") {
    val model = Seq(("term", 1L)).toDF("term", "w_fp")
    val docs = Seq((1L, "TERM Term term"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.linearScore(docs, "doc_id", col("text"), model, 0L)
    assert(out.count() == 2)
    assert(out.filter(col("doc_id") === 1L).head().getLong(1) == 3L)
  }
}

/** The dup-span ledger ([[graft.ops.Dedup.DupSpanLedger]]): probing a
  * landing batch against the gram histogram equals the full-corpus
  * mine restricted to the batch (count additivity), the ledger update
  * is replay-idempotent, and the probe plan never re-reads old text. */
class IncrementalDupSpanSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Dedup

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta filler one"),
    (2L, "other words alpha beta gamma delta epsilon zeta eta theta"),
    (3L, "totally unrelated text goes here with nothing shared at"),
    (10L, "new doc copies alpha beta gamma delta epsilon zeta eta theta"),
    (20L, "brand new unique content that matches nothing in history"),
    (30L, "new doc copies alpha beta gamma delta epsilon zeta eta theta")
  ).toDF("doc_id", "text")

  private val n = 4

  test("ledger probe == full mine restricted to the batch") {
    val old = corpus.filter(col("doc_id") < 10)
    val batch = corpus.filter(col("doc_id") >= 10)
    val ledger = Dedup.dupSpanLedger(old, "doc_id", col("text"), n)
    val probe = Dedup.dupSpansFromLedger(ledger, batch, "doc_id", col("text"), n)
      .collect().map(_.toString).toSet
    val full = Dedup.dupSpans(corpus, "doc_id", col("text"), n)
      .filter(col("doc_id") >= 10)
      .collect().map(_.toString).toSet
    assert(probe == full)
    assert(probe.nonEmpty, "fixture must produce batch spans")
    // batch-internal duplication alone must also surface: docs 10+30
    // share text absent from history
    val batchOnly = Dedup.dupSpansFromLedger(
      Dedup.dupSpanLedger(old.limit(0), "doc_id", col("text"), n),
      batch, "doc_id", col("text"), n)
    assert(batchOnly.filter(col("doc_id") === 20L).count() == 0)
    assert(batchOnly.filter(col("doc_id") === 10L).count() > 0)
  }

  test("ledger update is replay-idempotent and never re-tokenizes history") {
    val old = corpus.filter(col("doc_id") < 10)
    val batch = corpus.filter(col("doc_id") >= 10)
    val l0 = Dedup.dupSpanLedger(old, "doc_id", col("text"), n)
    val l1 = Dedup.updatedDupSpanLedger(l0, batch, "doc_id", col("text"), n)
    val l2 = Dedup.updatedDupSpanLedger(l1, batch, "doc_id", col("text"), n)
    def hist(l: Dedup.DupSpanLedger) =
      l.grams.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist(l1) == hist(l2))
    assert(l1.docs.count() == 6 && l2.docs.count() == 6)
    // the updated histogram equals a from-scratch bootstrap of the
    // full corpus — the additivity the probe relies on
    assert(hist(l1) == hist(Dedup.dupSpanLedger(corpus, "doc_id", col("text"), n)))
    // a replayed probe lands nothing (all ids already in the ledger)
    assert(Dedup.dupSpansFromLedger(l1, batch, "doc_id", col("text"), n)
      .count() == 0)
  }
}

/** The combined-index streaming maintainer
  * ([[graft.streaming.IvfPqStream]]): kill-and-resume over a landing
  * vector stream, plus raw queue redelivery, lands exactly the
  * one-shot frozen-table upsert's code rows — and the maintained index
  * serves ADC top-k directly. */
class IvfPqStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.streaming.IvfPqStream

  test("kill-and-resume == one-shot ivfPqIndexUpsert; serves ADC top-k") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val landing = emb.filter(col("vec_id") % 10 === 0)
      .orderBy("vec_id").collect()
    val batches = landing.grouped((landing.length + 1) / 2).toSeq
    assert(batches.size == 2)

    val root = tmpDir("ivfpq_stream")
    val landingDir = s"$root/landing"
    val p = IvfPqStream("vec_id", "embedding", m = 4, dsub = 16)
    p.bootstrap(old, k = 8, iters = 2, ksub = 16, pqIters = 1, root)

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

    val streamed = p.index(spark, root).codes
      .select(col("corpus_id"), col("centroid_id"), col("s"), col("code"))
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    val idx0 = ops.Similarity.ivfPqIndexBuild(old, "vec_id", "embedding",
      k = 8, iters = 2, m = 4, dsub = 16, ksub = 16, pqIters = 1)
    val oneShot = ops.Similarity
      .ivfPqIndexUpsert(idx0, emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", m = 4, dsub = 16)
      .codes.select(col("corpus_id"), col("centroid_id"), col("s"), col("code"))
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    assert(streamed == oneShot)
    assert(streamed.size == emb.count() * 4)

    val served = ops.Similarity.ivfPqTopKFromIndex(
        emb.filter(col("vec_id") < 3), p.index(spark, root),
        "vec_id", "embedding", m = 4, dsub = 16, k = 3, nprobe = 2)
      .count()
    assert(served == 9L)
  }
}

/** The two-stage serve ([[graft.ops.Similarity.ivfPqTopKRerank]]):
  * with a corpus-deep shortlist and all cells probed, the exact
  * re-rank stage recovers brute force row-for-row; with a shallow
  * shortlist every result still comes from the ADC shortlist. */
class IvfPqRerankSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Similarity

  private val Dims = 8
  private val M = 2
  private val Dsub = 4

  private def vec(id: Long, axis: Int): Seq[Double] =
    Seq.tabulate(Dims) { d =>
      (if (d == axis) 10.0 else 0.0) + ((id * 31 + d * 17) % 7).toDouble / 10.0
    }

  test("full-depth rerank over all cells == brute force") {
    val c = (0 until 120).map(i => (i.toLong, vec(i.toLong, i % 4)))
      .toDF("id", "v")
    val idx = Similarity.ivfPqIndexBuild(c, "id", "v",
      k = 4, iters = 2, m = M, dsub = Dsub, ksub = 4, pqIters = 1)
    val q = c.filter(col("id") < 4)
    val reranked = Similarity.ivfPqTopKRerank(q, idx, c, "id", "id", "v",
        m = M, dsub = Dsub, k = 5, nprobe = 4, rerank = 200)
      .collect().map(_.toString).toSet
    val brute = Similarity.bruteForceTopK(q, c, "id", "id", "v", k = 5)
      .collect().map(_.toString).toSet
    assert(reranked == brute)
  }

  test("results come from the ADC shortlist; k-bounded output") {
    val c = (0 until 120).map(i => (i.toLong, vec(i.toLong, i % 4)))
      .toDF("id", "v")
    val idx = Similarity.ivfPqIndexBuild(c, "id", "v",
      k = 4, iters = 2, m = M, dsub = Dsub, ksub = 4, pqIters = 1)
    val q = c.filter(col("id") < 4)
    val shortlist = Similarity.ivfPqTopKFromIndex(q, idx, "id", "v",
        m = M, dsub = Dsub, k = 8, nprobe = 2)
      .select(col("query_id"), col("corpus_id"))
      .as[(Long, Long)].collect().toSet
    val reranked = Similarity.ivfPqTopKRerank(q, idx, c, "id", "id", "v",
      m = M, dsub = Dsub, k = 5, nprobe = 2, rerank = 8)
    assert(reranked.count() == 4 * 5)
    val outside = reranked.select(col("query_id"), col("corpus_id"))
      .as[(Long, Long)].collect().filterNot(shortlist.contains)
    assert(outside.isEmpty, outside.mkString(","))
  }
}

/** Aggregate pushdown on the DSv2 store: a group-by-free
  * `count(*)/count(col)/min/max` probe (the ledger-size / watermark
  * shape) must be answered from parquet FOOTERS — one partial row per
  * bucket, ZERO decoded data rows — and fall back to an equivalent
  * row scan when footer statistics can't answer (nested array paths).
  * Unsupported shapes (avg, string min/max, filtered or grouped aggs)
  * must decline the pushdown and still answer correctly. */
class StoreAggPushdownSpec extends SparkSpec {
  import spark.implicits._
  import graft.connectors.StoreReaderMetrics
  import graft.sinks.VersionedStore

  private def buildStore(): String = {
    val store = tmpDir("agg_store") + "/ledger"
    val df = spark.range(1, 1001).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2).as("n"),
      (col("id").cast("double") / 4.0).as("w"),
      concat(lit("v"), col("id")).as("s"))
    VersionedStore.upsert(df, Seq("id"), store, nBuckets = 8)
    store
  }

  private def aggCols = Seq(count(lit(1)).as("cnt"), count(col("n")).as("cn"),
    min(col("n")).as("mn"), max(col("n")).as("mx"),
    min(col("w")).as("mw"), max(col("w")).as("xw"))

  test("count/min/max answer from footers: zero decoded rows") {
    val store = buildStore()
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val agg = ds.agg(aggCols.head, aggCols.tail: _*)
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates ["), plan.take(2000))
    val before = StoreReaderMetrics.rowsDecoded.get()
    val got = agg.collect().head
    val decoded = StoreReaderMetrics.rowsDecoded.get() - before
    assert(decoded == 0, s"expected footer-only aggregation, decoded $decoded rows")
    val exp = VersionedStore.read(spark, store)
      .agg(aggCols.head, aggCols.tail: _*).collect().head
    assert(got == exp, s"pushed $got vs plain $exp")
    // sanity against first principles: 1000 rows, ~1/7 of n null
    assert(got.getLong(0) == 1000L && got.getLong(1) == 1000L - 142L)
    assert(got.getLong(2) == 2L && got.getLong(3) == 2000L)
  }

  test("unsupported shapes decline the pushdown and stay correct") {
    val store = buildStore()
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    // avg, string min, grouped, and filtered aggregations: no pushdown
    for (q <- Seq(
      ds.agg(avg(col("w")).as("a")),
      ds.agg(min(col("s")).as("m")),
      ds.groupBy(col("id") % 2).agg(count(lit(1))),
      ds.filter(col("id") > 10).agg(count(lit(1)).as("c")))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("pushedAggregates"), plan.take(1500))
    }
    assert(ds.filter(col("id") > 10).count() == 990L)
    assert(ds.agg(min(col("s"))).collect().head.getString(0) == "v1")
  }

  test("array-column count falls back to a row scan, same answer") {
    val store = tmpDir("agg_store_arr") + "/sets"
    val df = Seq((1L, Seq("a", "b")), (2L, null.asInstanceOf[Seq[String]]),
      (3L, Seq.empty[String])).toDF("id", "shingles")
    VersionedStore.upsert(df, Seq("id"), store, nBuckets = 2)
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val agg = ds.agg(count(col("shingles")).as("c"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates ["), plan.take(1500))
    val before = StoreReaderMetrics.rowsDecoded.get()
    assert(agg.collect().head.getLong(0) == 2L)
    assert(StoreReaderMetrics.rowsDecoded.get() - before > 0,
      "array-path stats are footer-invisible; the fallback must row-scan")
  }
}

/** NaN demotion in the footer aggregate path: parquet drops float/double
  * chunk min/max when NaN is present (num_nulls stays set), a state
  * where the chunk LOOKS usable (`!isEmpty`) but has no extrema. The
  * pushed max must row-scan-fallback and surface the NaN that Spark's
  * ordering treats as greatest — not silently fold only the NaN-free
  * chunks. */
class StoreAggNaNSpec extends SparkSpec {
  import spark.implicits._
  import graft.connectors.StoreReaderMetrics
  import graft.sinks.VersionedStore

  test("NaN-bearing double column demotes to the row scan and keeps NaN-greatest") {
    val store = tmpDir("agg_store_nan") + "/m"
    val df = Seq((1L, 1.5), (2L, Double.NaN), (3L, -7.25), (4L, 99.0))
      .toDF("id", "w")
    VersionedStore.upsert(df, Seq("id"), store, nBuckets = 2)
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val agg = ds.agg(min(col("w")).as("mn"), max(col("w")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("pushedAggregates ["))
    val before = StoreReaderMetrics.rowsDecoded.get()
    val got = agg.collect().head
    val exp = VersionedStore.read(spark, store)
      .agg(min(col("w")), max(col("w"))).collect().head
    assert(got == exp, s"pushed $got vs scan $exp")
    assert(got.getDouble(1).isNaN, "max must keep NaN (Spark sorts it greatest)")
    assert(StoreReaderMetrics.rowsDecoded.get() - before > 0,
      "NaN-affected buckets must fall back to the row scan")
  }

  test("all-null column stays footer-answerable (provably-null chunks fold to null)") {
    val store = tmpDir("agg_store_nulls") + "/m"
    val df = spark.range(1, 101).select(col("id"),
      lit(null).cast("double").as("w"))
    VersionedStore.upsert(df, Seq("id"), store, nBuckets = 2)
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val before = StoreReaderMetrics.rowsDecoded.get()
    val got = ds.agg(count(col("w")).as("c"), min(col("w")).as("mn"))
      .collect().head
    assert(StoreReaderMetrics.rowsDecoded.get() - before == 0,
      "all-null extrema are provable from footers alone")
    assert(got.getLong(0) == 0L && got.isNullAt(1))
  }
}

/** Zero-row parquet inputs through the compaction executor: a bin whose
  * members are ALL footer-only files produces no partitionBy output
  * directory — the finalize loop must skip it, not crash; and when the
  * WHOLE source is empty, the compacted dir keeps a schema-only file so
  * `spark.read.parquet` still infers. */
class CompactionEmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def writeEmpty(dir: String, times: Int): Unit = {
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    (1 to times).foreach { _ =>
      empty.coalesce(1).write.mode("append").parquet(dir)
    }
  }

  test("all-empty source compacts to a readable zero-row directory") {
    val root = tmpDir("compact_empty")
    val src = s"$root/src"
    writeEmpty(src, 3)
    val out = s"$root/out"
    val planned = Layout.compactFiles(spark, src, out, targetBytes = 1 << 20)
    assert(planned.count() >= 1)
    val back = spark.read.parquet(out)
    assert(back.count() == 0L)
    assert(back.columns.toSeq == Seq("id", "v"), back.columns.mkString(","))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(out, "_SUCCESS")))
  }

  test("empty files mixed with real data vanish into the merged bins") {
    val root = tmpDir("compact_mixed")
    val src = s"$root/src"
    writeEmpty(src, 2)
    (1L to 500L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(4, col("id")).write.mode("append").parquet(src)
    val out = s"$root/out"
    Layout.compactFiles(spark, src, out, targetBytes = 1 << 20)
    val back = spark.read.parquet(out)
    assert(back.count() == 500L)
    assert(back.select(sum(col("id"))).collect().head.getLong(0) ==
      500L * 501L / 2)
  }
}

/** Exact-size proportional stratified sampling
  * ([[graft.ops.Curation.stratifiedSample]]): quotas are
  * largest-remainder apportioned (sum EXACTLY totalN, each ≤ its
  * stratum size), membership is hash-ordered and salt-stage-lossless,
  * and the guards raise on oversampling. */
class StratifiedSampleSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Curation

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("quotas sum to exactly totalN and never exceed stratum sizes") {
    for (n <- Seq(1L, 7L, 37L, 50L)) {
      val out = Curation.stratifiedSample(docs, "lang", "doc_id", n)
      assert(out.count() == n, s"totalN=$n")
      val sizes = docs.groupBy("lang").count()
      val quotas = out.groupBy("lang").agg(
        first(col("quota")).as("q"), count(lit(1)).as("got"))
      val bad = quotas.join(sizes, "lang")
        .filter(col("q") =!= col("got") || col("q") > col("count"))
        .collect()
      assert(bad.isEmpty, bad.mkString(","))
    }
  }

  test("sample is a prefix of the hash order (stable under resampling)") {
    val s30 = Curation.stratifiedSample(docs, "lang", "doc_id", 30L)
      .select("doc_id").as[Long].collect().toSet
    val s60 = Curation.stratifiedSample(docs, "lang", "doc_id", 60L)
      .select("doc_id").as[Long].collect().toSet
    // growing the budget only ADDS rows within each stratum's hash
    // order; strata quotas are re-apportioned so prefix containment
    // holds per stratum, not globally — check per stratum
    val by30 = Curation.stratifiedSample(docs, "lang", "doc_id", 30L)
      .groupBy("lang").agg(collect_set("doc_id").as("ids30"))
    val by60 = Curation.stratifiedSample(docs, "lang", "doc_id", 60L)
      .groupBy("lang").agg(collect_set("doc_id").as("ids60"))
    val nonPrefix = by30.join(by60, "lang")
      .filter(size(array_except(col("ids30"), col("ids60"))) > 0 &&
        size(col("ids30")) <= size(col("ids60")))
      .collect()
    assert(nonPrefix.isEmpty,
      s"within-stratum hash prefixes must nest: ${nonPrefix.mkString(",")}")
    assert(s30.nonEmpty && s60.size == 60 && s30.size == 30)
  }

  test("salted two-stage equals the direct single-window rank") {
    val salted = Curation.stratifiedSample(docs, "lang", "doc_id", 45L, salts = 8)
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    val direct = Curation.stratifiedSample(docs, "lang", "doc_id", 45L, salts = 1)
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    assert(salted == direct)
  }

  test("oversampling raises loudly") {
    val n = docs.count()
    val ex = intercept[Exception] {
      Curation.stratifiedSample(docs, "lang", "doc_id", n + 1).collect()
    }
    assert(ex.getMessage != null)
  }

  test("temperature weights flatten the head, exact total, loud over-demand") {
    val tempW = floor(sqrt(col("_n")) * 1e6).cast("bigint")
    val out = Curation.stratifiedSampleBy(docs, "lang", "doc_id", 30L, tempW)
    assert(out.count() == 30)
    val sizes = docs.groupBy("lang").count()
    val q = out.groupBy("lang").agg(first(col("quota")).as("q"))
      .join(sizes, "lang").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("q"),
        r.getAs[Long]("count"))).sortBy(_._1)
    // sqrt weighting: the biggest stratum's share of the sample must be
    // SMALLER than its share of the corpus (the flattening contract)
    val total = q.map(_._3).sum
    val big = q.maxBy(_._3)
    assert(big._2.toDouble / 30 < big._3.toDouble / total,
      s"head not flattened: $big of ${q.mkString(",")}")
    // a weighting that demands more than a stratum holds fails loudly
    val skew = when(col("_n") < 100, lit(1000000L)).otherwise(lit(1L))
    val ex = intercept[Exception] {
      Curation.stratifiedSampleBy(docs, "lang", "doc_id", docs.count(), skew)
        .collect()
    }
    assert(ex.getMessage != null)
  }
}

/** [[graft.ops.Similarity.ivfPqDriftReport]] — the retrain/keep gate
  * over the COMBINED index: distribution shift counted once per vector
  * (codes carry m rows each), recall measured on the full ADC serve
  * path, and a drifted batch flips the verdict exactly as the IVF
  * gate's (DriftGateSpec). */
class IvfPqDriftGateSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Similarity

  private def vec(id: Long, axis: Int, dims: Int = 16): Seq[Double] =
    Seq.tabulate(dims) { d =>
      (if (d == axis) 10.0 else 0.0) + ((id * 31 + d * 17) % 7).toDouble / 10.0
    }

  test("in-distribution keeps; drifted batch flips; n_index counts vectors once") {
    val corpus = (0L until 200L).map(i => (i, vec(i, (i % 4).toInt)))
      .toDF("id", "v")
    val index = Similarity.ivfPqIndexBuild(corpus, "id", "v",
      k = 4, iters = 2, m = 4, dsub = 4, ksub = 8, pqIters = 1)

    def report(batch: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqDriftReport(index, corpus, batch, "id", "v",
          m = 4, dsub = 4, k = 3, nprobe = 2, sampleMod = 2,
          maxShiftPpm = 150000L, minRecallPpm = 100000L)
        .collect().head

    val inDist = (1000L until 1100L).map(i => (i, vec(i, (i % 4).toInt)))
      .toDF("id", "v")
    val keep = report(inDist)
    assert(keep.getAs[Long]("n_index") == 200L,
      s"codes must count once per vector: ${keep.toString}")
    assert(keep.getAs[String]("verdict") == "keep", keep.toString)

    val drifted = (2000L until 2100L).map(i => (i, vec(i, 11)))
      .toDF("id", "v")
    val retrain = report(drifted)
    assert(retrain.getAs[String]("verdict") == "retrain", retrain.toString)
    assert(retrain.getAs[Long]("shift_ppm") > keep.getAs[Long]("shift_ppm"))
  }
}

/** Runtime bucket pruning + reported statistics on the DSv2 store:
  * the J2 anti-join probe WITHOUT a driver-collected IN list — Spark
  * executes the small batch side, hands its join keys to the scan as
  * runtime filters (SupportsRuntimeFiltering), and the ledger read
  * re-plans to only those keys' bucket chains; reported sizeInBytes
  * (SupportsReportStatistics) lets a small ledger auto-broadcast. */
class StoreRuntimeFilterSpec extends SparkSpec {
  import spark.implicits._
  import graft.connectors.StoreReaderMetrics
  import graft.sinks.VersionedStore

  private val dir = "/root/testdata/sf0.001"

  private def tasks = spark.read.parquet(s"$dir/lineitem.parquet")
    .withColumn("msg_id",
      md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))))

  test("join keys prune buckets at runtime; answers match the full scan") {
    val store = tmpDir("rt_store") + "/ledger"
    VersionedStore.upsert(
      tasks.select(col("msg_id"), col("l_orderkey").as("sent_order")),
      Seq("msg_id"), store, nBuckets = 16)
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val total = ds.count()

    // selective probe side: a handful of keys, as a DATAFRAME (no
    // literal IN list anywhere)
    val probe = tasks.filter(col("l_orderkey") % 997 === 0)
      .select(col("msg_id").as("k"), col("l_orderkey").as("want_order"))
    val nProbe = probe.count()
    assert(nProbe > 0 && nProbe < 40, s"selective probe expected, got $nProbe")

    val joined = ds.join(probe, col("msg_id") === col("k"))
      .select(col("msg_id"), col("sent_order"), col("want_order"))
    val before = StoreReaderMetrics.rowsDecoded.get()
    val got = joined.collect()
    val decoded = StoreReaderMetrics.rowsDecoded.get() - before
    // the synthetic lineitem repeats (orderkey, linenumber) pairs, so
    // expected row count is the plain-reader join's, not |probe|
    val exp = VersionedStore.read(spark, store)
      .join(probe, col("msg_id") === col("k"))
      .select(col("msg_id"), col("sent_order"), col("want_order"))
      .collect()
    assert(got.map(_.toString).sorted.toSeq == exp.map(_.toString).sorted.toSeq)
    assert(got.forall(r => r.getLong(1) == r.getLong(2)))
    // the scale contract: the ledger side decodes only the probed
    // buckets' rows, never the whole store
    assert(decoded < total,
      s"runtime pruning must skip buckets: decoded $decoded of $total")
    // a non-empty runtime-filter list, not just the header BatchScanExec
    // always prints: the dynamic-pruning subquery must reference the scan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
  }

  test("reported sizeInBytes lets the small ledger auto-broadcast") {
    val store = tmpDir("stats_store") + "/small"
    VersionedStore.upsert(
      tasks.limit(200).select(col("msg_id"), col("l_orderkey").as("v")),
      Seq("msg_id"), store, nBuckets = 4)
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val big = tasks.select(col("msg_id"), col("l_partkey"))
    // no broadcast hint anywhere: the planner must choose broadcast
    // from the scan's own reported statistics
    val joined = big.join(ds, Seq("msg_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    assert(joined.count() > 0)
  }
}

/** Partial limit pushdown on the DSv2 store: a `limit(n)` peek stops
  * each bucket reader after n decoded rows — ≤ n·buckets rows decoded
  * however large the store — while Spark's own global Limit keeps the
  * final answer exact. */
class StoreLimitSpec extends SparkSpec {
  import graft.connectors.StoreReaderMetrics
  import graft.sinks.VersionedStore

  test("limit decodes at most n rows per bucket") {
    val store = tmpDir("limit_store") + "/ledger"
    val df = spark.range(1, 2001).select(col("id"),
      (col("id") * 3).as("v"))
    VersionedStore.upsert(df, Seq("id"), store, nBuckets = 8)
    val ds = spark.read.format("graft-vstore").option("path", store).load()
    val q = ds.limit(5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushedLimit 5"), plan.take(1500))
    val before = StoreReaderMetrics.rowsDecoded.get()
    val got = q.collect()
    val decoded = StoreReaderMetrics.rowsDecoded.get() - before
    assert(got.length == 5)
    assert(decoded <= 5L * 8,
      s"each bucket must stop at the limit: decoded $decoded")
    // and the unlimited read still sees everything
    assert(ds.count() == 2000L)
  }
}

/** [[graft.ops.ApproxDedup.containmentPairs]] — the asymmetric overlap
  * measure: a small document fully quoted inside a much larger one has
  * containment ≈ 1 in one direction while its Jaccard stays below any
  * useful threshold, so the containment criterion fires exactly where
  * Jaccard structurally cannot. */
class ContainmentPairsSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.ApproxDedup

  test("near-subset duplication: containment fires, Jaccard misses") {
    val small = (1 to 10).map(i => s"tok$i").mkString(" ")
    val big = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "unrelated words only here"))
      .toDF("doc_id", "text")
      .withColumn("blk", lit("b"))
      .withColumn("bigrams", ApproxDedup.wordNgrams(col("text"), 2))
    val jac = ApproxDedup.jaccardPairs(docs, "doc_id", "blk", "bigrams", 0.5)
      .collect()
    assert(jac.isEmpty, "Jaccard at 0.5 must miss the quoted subset")
    val cont = ApproxDedup
      .containmentPairs(docs, "doc_id", "blk", "bigrams", 0.5)
      .collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0, s"small-in-big containment: $r")
    assert(r.getDouble(3) < 0.1, s"reverse direction stays low: $r")
  }

  test("guard family applies: hot block raises like jaccardPairs") {
    val docs = (1L to 50L).map(i => (i, "a b c")).toDF("doc_id", "text")
      .withColumn("blk", lit("hot"))
      .withColumn("bigrams", ApproxDedup.wordNgrams(col("text"), 2))
    val ex = intercept[IllegalArgumentException] {
      ApproxDedup.containmentPairs(docs, "doc_id", "blk", "bigrams",
        0.0, maxBlockRows = 10)
    }
    assert(ex.getMessage.contains("containmentPairs"))
  }
}

/** [[graft.ops.CorpusSignals.lmCoverage]] — integer-exact LM-coverage
  * scoring: hand-computed ppm on a planted doc, defensive dedup of the
  * reference table (a duplicate gram row would multiply join rows and
  * inflate both counters), and sub-n documents absent rather than
  * zero-scored. */
class LmCoverageSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.CorpusSignals

  test("hand-computed coverage; duplicate reference rows don't inflate") {
    // doc 1: bigrams (a b)(b c)(c d) — 2 of 3 in the reference
    val docs = Seq((1L, "a b c d"), (2L, "solo")).toDF("doc_id", "text")
    val ref = Seq(("a", "b"), ("b", "c"), ("x", "y"),
      ("a", "b"), ("a", "b")) // duplicates planted
      .toDF("context", "word")
    val out = CorpusSignals.lmCoverage(docs, "doc_id", col("text"), ref, 2)
      .collect()
    assert(out.length == 1, "the 1-token doc has no sites and is absent")
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 2L * 1000000L / 3L, r.toString)
    assert(r.getLong(4) == 1000000L - 2L * 1000000L / 3L)
  }
}
