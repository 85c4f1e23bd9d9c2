package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.connectors.{FileQueue, ParquetStore}
import graft.ops.{ApproxDedup, BudgetCap, Similarity, Verification}
import graft.sinks.Sinks
import graft.sources.InventoryReader

/** Round-3 additions: crash-safe store swap, connector traits, block
  * guardrails, budget-cap sharding, k-means training, checksum
  * validation, double-read verification. */
class StoreRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def store(root: String) = s"$root/stat"

  test("upsertParquet survives a crash between live-aside and promote") {
    val root = tmpDir("recov")
    val s = store(root)
    Sinks.upsertParquet(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), Seq("k"), s)
    // simulate a crash AFTER the live store was renamed aside and
    // BEFORE the swap promoted: accumulated data sits in .old only
    Files.move(Paths.get(s), Paths.get(s + ".old"))
    Sinks.upsertParquet(Seq((3L, 30L)).toDF("k", "v"), Seq("k"), s)
    val rows = spark.read.parquet(s).orderBy("k").as[(Long, Long)].collect()
    assert(rows.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("upsertParquet recovers from a complete leftover swap") {
    val root = tmpDir("recov2")
    val s = store(root)
    Sinks.upsertParquet(Seq((1L, 10L)).toDF("k", "v"), Seq("k"), s)
    // simulate: swap fully written, crash before any rename
    Files.move(Paths.get(s), Paths.get(s + ".swap"))
    Sinks.recoverStore(s)
    assert(spark.read.parquet(s).count() == 1)
  }

  test("ParquetStore trait: read-after-upsert round trip + empty before first") {
    val root = tmpDir("pstore")
    val st = ParquetStore(s"$root/s")
    assert(st.read(spark).isEmpty)
    st.upsert(Seq((1L, 1L)).toDF("k", "v"), Seq("k"))
    st.upsert(Seq((1L, 99L), (2L, 2L)).toDF("k", "v"), Seq("k"))
    val rows = st.read(spark).get.orderBy("k").as[(Long, Long)].collect()
    assert(rows.toSeq == Seq((1L, 99L), (2L, 2L))) // key-replace contract
  }

  test("FileQueue: empty enqueue writes nothing; round trip preserves rows") {
    val root = tmpDir("fq")
    val q = FileQueue(s"$root/q", streaming.TaskPipeline.messageSchema)
    q.enqueue(Seq((1, 1L, 1, "[]")).toDF("queue", "batch_id", "receive_count", "body")
      .filter(lit(false)))
    assert(!Files.exists(Paths.get(s"$root/q")) ||
      Files.list(Paths.get(s"$root/q")).count() == 0)
    q.enqueue(Seq((1, 1L, 1, "[]")).toDF("queue", "batch_id", "receive_count", "body"))
    assert(spark.read.schema(streaming.TaskPipeline.messageSchema)
      .json(s"$root/q").count() == 1)
  }
}

class GuardrailSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "hot", Seq("a b", "b c")), (2L, "hot", Seq("a b", "c d")),
    (3L, "hot", Seq("x y")), (4L, "cold", Seq("p q"))
  ).toDF("id", "blk", "grams")

  test("jaccardPairs guardrail trips on a hot block") {
    val e = intercept[IllegalArgumentException] {
      ApproxDedup.jaccardPairs(docs, "id", "blk", "grams", 0.0, maxBlockRows = 2)
    }
    assert(e.getMessage.contains("hot"))
    // unguarded / within-bound calls still run
    assert(ApproxDedup.jaccardPairs(docs, "id", "blk", "grams", 0.0).count() == 3)
    assert(ApproxDedup.jaccardPairs(docs, "id", "blk", "grams", 0.0,
      maxBlockRows = 3).count() == 3)
  }

  test("nearDupPairs guardrail trips on a hot block") {
    val emb = Seq(
      (1L, "hot", Seq(1.0, 0.0)), (2L, "hot", Seq(1.0, 0.1)),
      (3L, "hot", Seq(0.0, 1.0))
    ).toDF("id", "blk", "v")
    intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(emb, "id", "blk", "v", 0.5, maxBlockRows = 2)
    }
    assert(Similarity.nearDupPairs(emb, "id", "blk", "v", 0.5).count() == 1)
  }
}

class StopShingleSpec extends SparkSpec {
  import spark.implicits._

  test("jaccardPairsInverted maxDf drops hot shingles but keeps selective ones") {
    // "hot" appears in all 4 docs; each doc also has a selective shingle
    // shared with exactly one partner
    val docs = Seq(
      (1L, "b", Seq("hot", "ab")), (2L, "b", Seq("hot", "ab")),
      (3L, "b", Seq("hot", "cd")), (4L, "b", Seq("hot", "cd"))
    ).toDF("id", "blk", "grams")
    val exact = graft.ops.ApproxDedup
      .jaccardPairsInverted(docs, "id", "blk", "grams", 0.0)
    assert(exact.count() == 6) // all pairs intersect via "hot"
    val capped = graft.ops.ApproxDedup
      .jaccardPairsInverted(docs, "id", "blk", "grams", 0.0, maxDf = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    // with "hot" dropped only the selective partners remain
    assert(capped == Set((1L, 2L), (3L, 4L)))
  }
}

class BudgetCapSpec extends SparkSpec {
  import spark.implicits._

  test("perShard equals the global cap applied within each shard") {
    val rows = (1L to 100L).map(i => (i, i % 4, 10L)).toDF("id", "shard", "size")
    val sharded = BudgetCap.perShard(rows, col("shard"), col("size"), 70L,
      Seq(col("id")))
    // every shard has 25 rows of size 10 -> cap 70 keeps 7 per shard
    val perShardCounts = sharded.groupBy("shard").count()
      .as[(Long, Long)].collect().toMap
    assert(perShardCounts.values.toSet == Set(7L))
    // and the kept rows are the FIRST 7 of each shard in id order
    val keptIds = sharded.select("id").as[Long].collect().toSet
    val expected = (1L to 100L).groupBy(_ % 4).values.flatMap(_.sorted.take(7)).toSet
    assert(keptIds == expected)
  }
}

class KmeansSpec extends SparkSpec {
  import spark.implicits._

  test("kmeansFit separates two obvious clusters and preserves dims") {
    // ids 0,2,4 hug (1,0); ids 1,3,5 hug (0,1); init = vectors 0 and 1
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.9, 0.1)), (3L, Seq(0.1, 0.9)),
      (4L, Seq(0.8, 0.05)), (5L, Seq(0.05, 0.8))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 2, iters = 2)
    assert(cents.length == 2 && cents.forall(_.length == 2))
    // centroid 0 = mean of {(1,0),(.9,.1),(.8,.05)} = (0.9, 0.05)
    assert(math.abs(cents(0)(0) - 0.9) < 1e-6 && math.abs(cents(0)(1) - 0.05) < 1e-6)
    assert(math.abs(cents(1)(0) - 0.05) < 1e-6 && math.abs(cents(1)(1) - 0.9) < 1e-6)
  }

  test("kmeansFit is partitioning-invariant (fixed-point sums)") {
    // double summation would give different results under different
    // partition merge orders; the fixed-point bigint path must not
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kmeansFit(emb.repartition(1), "vec_id", "embedding", 4, 2)
    val b = Similarity.kmeansFit(emb.repartition(13), "vec_id", "embedding", 4, 2)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("kmeansFit keeps the previous centroid for an empty cluster") {
    // all vectors identical -> everything assigns to centroid 0 (tie-break
    // by centroid id); centroid 1 must survive untouched
    val emb = (0L to 3L).map(i => (i, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 2, iters = 2)
    assert(cents(0).toSeq == Seq(1.0, 0.0))
    assert(cents(1).toSeq == Seq(1.0, 0.0)) // init value retained
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.TextAnalysis

  test("bpeTokenCount: letter runs, digits and punctuation count separately") {
    val df = Seq((1L, "Hello, world! 42 tokens-here")).toDF("id", "text")
    // Hello , world ! 4 2 tokens - here  => 9 tokens
    val n = df.select(TextAnalysis.bpeTokenCount(col("text"))).as[Long].first()
    assert(n == 9)
  }

  test("winnow: docs sharing a long substring share a fingerprint") {
    val shared = "the quick brown fox jumps over it"
    val df = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"XXXXXXX $shared YYY"),
      (3L, "completely different content with no overlap at all ok")
    ).toDF("id", "text")
    val fps = df.select(col("id"),
        explode(TextAnalysis.winnow(col("text"), 5, 8)).as("fp"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // winnowing guarantee: a shared run of length >= w+k-1 (12) chars
    // must produce at least one common fingerprint
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    // and selection thins the fingerprint set well below one-per-gram
    assert(fps(1L).size < ("AAAA " + shared + " BBBB").length - 4)
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.ConnectedComponents

  test("labels chains, stars and singleton-free graphs to component minima") {
    // components: {1,2,3,4} (chain), {10,11,12} (star on 10), {20,21}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (21L, 20L)).toDF("src", "dst")
    val cc = ConnectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("survivors keeps cluster minima and untouched docs") {
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = ConnectedComponents.survivors(docs, "doc_id", pairs, "id_a", "id_b")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L))
  }

  test("star contraction survives the shared-leaf two-center state") {
    // After one round this graph reaches ss = {(3,1),(3,2),(4,1),(5,2)}:
    // no lo appears as a hi, yet node 3 still holds TWO labels — a
    // convergence probe that only tests "no lo is a hi" terminates here
    // with duplicate (id, comp) rows and comp=2 for {2,5} (review
    // counterexample). The full probe must keep iterating to the true
    // single-component answer.
    val edges = Seq((1L, 4L), (3L, 4L), (3L, 5L), (2L, 5L)).toDF("src", "dst")
    val cc = ConnectedComponents.starContraction(edges, "src", "dst")
      .as[(Long, Long)].collect()
    assert(cc.length == cc.map(_._1).distinct.length,
      s"duplicate labels: ${cc.sorted.mkString(",")}")
    assert(cc.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }
}

class ChecksumSpec extends SparkSpec {
  import spark.implicits._

  private def hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("validateChecksums flags ok / md5_mismatch / size_mismatch / missing_file") {
    val root = tmpDir("cksum")
    Files.writeString(Paths.get(root, "a.csv"), "hello")
    Files.writeString(Paths.get(root, "b.csv"), "world")
    Files.writeString(Paths.get(root, "d.csv"), "data!")
    Files.writeString(Paths.get(root, "e.csv"), "extra")
    val manifest = Seq(
      ("inv/2024/a.csv", 5L, hex("hello")),          // ok
      ("inv/2024/b.csv", 5L, hex("not-world")),      // md5_mismatch
      ("inv/2024/c.csv", 3L, hex("gone")),           // missing_file
      ("inv/2024/d.csv", 99L, hex("data!")),         // size_mismatch
      ("inv/2024/e.csv", 5L, null: String)           // missing_checksum
    ).toDF("key", "size", "md5")
    val v = InventoryReader.validateChecksums(spark, manifest, root)
    val status = v.select("key", "checksum_status").as[(String, String)]
      .collect().toMap
    assert(status("inv/2024/a.csv") == "ok")
    assert(status("inv/2024/b.csv") == "md5_mismatch")
    assert(status("inv/2024/c.csv") == "missing_file")
    assert(status("inv/2024/d.csv") == "size_mismatch")
    assert(status("inv/2024/e.csv") == "missing_checksum") // can't verify != ok
    assert(InventoryReader.validShards(v).count() == 1)
  }

  test("validateChecksums fails fast on basename collisions (flat staging)") {
    val root = tmpDir("cksum2")
    Files.writeString(Paths.get(root, "part-0.csv"), "x")
    val manifest = Seq(
      ("dt=2024-01-01/part-0.csv", 1L, hex("x")),
      ("dt=2024-01-02/part-0.csv", 1L, hex("x"))
    ).toDF("key", "size", "md5")
    val e = intercept[IllegalArgumentException] {
      InventoryReader.validateChecksums(spark, manifest, root)
    }
    assert(e.getMessage.contains("part-0.csv"))
  }

  test("validateChecksums over a manifest document runs one collision probe job, no shuffle") {
    val root = tmpDir("cksum3")
    Files.createDirectories(Paths.get(root, "inv"))
    val files = (0 until 3).map { i =>
      Files.writeString(Paths.get(root, "inv", s"data-$i.csv"), s"rows $i")
      s"""{"key": "inv/data-$i.csv", "size": 6, "MD5checksum": "${hex(s"rows $i")}"}"""
    }
    Files.writeString(Paths.get(root, "manifest.json"),
      files.mkString("{\"files\": [", ",\n", "]}"))
    val manifest = InventoryReader.manifestFiles(
      InventoryReader.readManifest(spark, s"$root/manifest.json"))
    val (_, probe) = Meter.measure(spark) {
      InventoryReader.validateChecksums(spark, manifest, s"$root/inv")
    }
    val (statuses, withStatus) = Meter.measure(spark) {
      InventoryReader.validateChecksums(spark, manifest, s"$root/inv")
        .groupBy("checksum_status").count().as[(String, Long)].collect().toMap
    }
    assert(statuses == Map("ok" -> 3L))
    assert(probe.jobs.size == 1, probe.jobs.map(_.callSite))
    assert(probe.shuffleBytes == 0)
    assert(withStatus.jobs.size == 4, withStatus.jobs.map(_.callSite))
  }
}

class RangedEtagSpec extends SparkSpec {
  import spark.implicits._

  test("etagOfFiles recomputes single- and multi-part etags from ranged reads") {
    val root = tmpDir("retag")
    val small = Array.tabulate[Byte](100)(_.toByte)          // 1 part
    val big = Array.tabulate[Byte](2500)(i => (i % 251).toByte) // 3 parts @1000
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "small.bin"), small)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "big.bin"), big)
    val out = graft.functions.MultipartEtag.etagOfFiles(spark, root, partSize = 1000)
      .select(element_at(split(col("path"), "/"), -1).as("f"), col("etag"))
      .as[(String, String)].collect().toMap
    assert(out("small.bin") ==
      graft.functions.MultipartEtag.etagOf(small, 1000, isMultipart = false))
    assert(out("big.bin") ==
      graft.functions.MultipartEtag.etagOf(big, 1000, isMultipart = true))
    assert(out("big.bin").endsWith("-3"))
  }
}

class DoubleCheckSpec extends SparkSpec {
  import spark.implicits._

  test("doubleCheck passes stable verdicts and flags flapping ones") {
    val src = Seq(
      ("k1", 10L, "t1", "e1"), ("k2", 20L, "t2", "e2"), ("k3", 30L, "t3", "e3")
    ).toDF("key", "size", "mtime", "etag")
    // first read: k2 etag differs; second read: k2 healed, k3 now differs
    val dst1 = Seq(
      ("k1", 10L, "t1", "e1"), ("k2", 20L, "t2", "BAD"), ("k3", 30L, "t3", "e3")
    ).toDF("key", "size", "mtime", "etag")
    val dst2 = Seq(
      ("k1", 10L, "t1", "e1"), ("k2", 20L, "t2", "e2"), ("k3", 30L, "t3", "BAD")
    ).toDF("key", "size", "mtime", "etag")
    val out = Verification.doubleCheck(src, dst1, dst2, "key")
      .select("key", "final_verdict").as[(String, String)].collect().toMap
    assert(out("k1") == "ok")
    assert(out("k2") == "flapping")
    assert(out("k3") == "flapping")
  }
}

class StarContractionSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.ConnectedComponents

  test("star contraction matches min-label on a mixed graph") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (21L, 20L)).toDF("src", "dst")
    val sc = ConnectedComponents.starContraction(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(sc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("apply falls back to star contraction where min-label hits maxIters") {
    // a 101-node path has diameter 100: min-label with maxIters=5
    // cannot converge; the fallback must label it in O(log^2) rounds
    val edges = (0L until 100L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = ConnectedComponents(edges, "src", "dst", maxIters = 5, maxLocalEdges = 0)
    assert(cc.count() == 101)
    assert(cc.select("comp").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("star contraction handles two chains and a singleton edge pair") {
    val chainA = (0L until 40L).map(i => (i, i + 1))        // comp 0
    val chainB = (100L until 130L).map(i => (i + 1, i))     // comp 100
    val edges = (chainA ++ chainB ++ Seq((500L, 501L))).toDF("src", "dst")
    val cc = ConnectedComponents.starContraction(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 74)
    assert(!cc.contains(41L)) // 41 not in graph
    assert((0L to 40L).forall(i => cc(i) == 0L))
    assert((100L to 130L).forall(i => cc(i) == 100L))
    assert(cc(500L) == 500L && cc(501L) == 500L)
  }
}
