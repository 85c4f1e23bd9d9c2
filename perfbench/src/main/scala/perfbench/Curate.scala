package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import graft.exec.CorpusPipeline
import graft.ops.ConnectedComponents

/** `curate`: the training-corpus clean — quality filter, exact dedup and
  * MinHash-LSH near-dup collapse — over seeded documents with planted
  * low-quality docs, exact duplicates and near-duplicate clusters. */
object Curate extends Workload {
  val NearDupThreshold = 0.6

  def generate(dir: Path, seed: Long, small: Boolean): Unit = {
    val n = if (small) 100 else 2000
    val r = Gen.rng(seed, "curate")
    val vocab = 3000
    val zipf = new Gen.Zipf(vocab, r)
    // long documents keep a one-word edit far above the near-dup
    // threshold, so the LSH finds every planted cluster
    def good(): Array[String] = Array.fill(150 + r.nextInt(100))(Gen.word(zipf.next()))
    def text(ws: Array[String]): String =
      ws.zipWithIndex.map { case (w, i) => if (i % 15 == 14) w + "." else w }.mkString(" ")
    def edit(ws: Array[String], pos: Int): Array[String] = {
      val c = ws.clone()
      c(pos) = Gen.word(vocab + r.nextInt(vocab)) // a word no document otherwise uses
      c
    }
    val docs = ArrayBuffer.empty[String]
    val short = n * 3 / 100
    val soup = n * 2 / 100
    val exact = n * 4 / 100
    val clusters = n * 3 / 100
    (0 until short).foreach(_ => docs += text(Array.fill(3 + r.nextInt(4))(Gen.word(zipf.next()))))
    (0 until soup).foreach(_ => docs += Array.fill(20 + r.nextInt(20)) {
      Seq("!!", "?#", "%&*", "$$", "~^").apply(r.nextInt(5)) + Gen.word(zipf.next())
    }.mkString(" "))
    (0 until clusters).foreach { _ =>
      val base = good()
      val p1 = r.nextInt(base.length / 2)
      val p2 = base.length / 2 + r.nextInt(base.length / 2)
      docs += text(base); docs += text(edit(base, p1)); docs += text(edit(base, p2))
    }
    val singles = n - docs.size - exact
    val singleDocs = (0 until singles).map(_ => text(good()))
    docs ++= singleDocs
    (0 until exact).foreach(_ => docs += singleDocs(r.nextInt(singleDocs.size)))
    // shuffle, then number: duplicates are not next to their originals
    val shuffled = docs.toArray
    for (i <- shuffled.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    Gen.writeLines(dir.resolve("docs").resolve("docs.json"), shuffled.iterator.zipWithIndex.map {
      case (t, i) => s"""{"doc_id":${i + 1},"text":${Gen.jsonString(t)}}"""
    })
    val afterQuality = n - short - soup
    val afterExact = afterQuality - exact
    Gen.writeTruth(dir, Map(
      "clean.input" -> n, "clean.after_quality" -> afterQuality,
      "clean.after_exact" -> afterExact, "clean.after_near_dup" -> (afterExact - 2 * clusters),
      "stages.filtered" -> afterExact, "stages.survivors" -> (afterExact - 2 * clusters)))
  }

  def open(ctx: Ctx, in: Path): Runner = new Runner {
    private val spark = ctx.spark
    private val truth = Gen.readTruth(in)
    private def docs = spark.read.schema("doc_id BIGINT, text STRING").json(in.resolve("docs").toString)

    def round(i: Int): RoundOut = {
      val ((cleaned, s), c) = ctx.call("exec.CorpusPipeline.clean") {
        CorpusPipeline.clean(spark, docs, nearDupThreshold = NearDupThreshold)
      }
      ctx.check(c, Map("input" -> s.input, "after_quality" -> s.afterQuality,
        "after_exact" -> s.afterExact, "after_near_dup" -> s.afterNearDup).map { case (k, v) => k -> v.toString },
        Gen.section(truth, "clean"))
      // the round ends when the cleaned corpus is written out
      val out = ctx.freshDir("curate").resolve("cleaned").toString
      val (_, cWrite) = ctx.call("exec.CorpusPipeline.clean.write") { cleaned.write.parquet(out) }
      ctx.checking {
        ctx.check(cWrite, Map("written" -> spark.read.parquet(out).count().toString),
          Map("written" -> truth("clean.after_near_dup")))
      }
      // traced rounds also run the stages clean composes, one at a time
      ctx.traced.foreach { _ =>
        val (filtered, cf) = ctx.call("exec.CorpusPipeline.filteredCorpus") {
          val f = CorpusPipeline.filteredCorpus(docs).cache()
          (f, f.count())
        }
        val (pairs, cp) = ctx.call("exec.CorpusPipeline.nearDupPairGraph") {
          val g = CorpusPipeline.nearDupPairGraph(filtered._1, NearDupThreshold)
          g.df.count()
          g
        }
        val (survivors, cs) = ctx.call("ops.ConnectedComponents.survivors") {
          ConnectedComponents.survivors(filtered._1, "doc_id", pairs.df, "id_a", "id_b").count()
        }
        pairs.release(); filtered._1.unpersist()
        ctx.check(cf, Map("filtered" -> filtered._2.toString), Gen.section(truth, "stages") - "survivors")
        ctx.check(cs, Map("survivors" -> survivors.toString), Gen.section(truth, "stages") - "filtered")
        cp.seconds
      }
      val n = truth("clean.input").toDouble
      RoundOut(objects = n, objectSeconds = c.seconds, roundSeconds = c.seconds + cWrite.seconds,
        detail = Map("curate_docs_per_s" -> Seq(n / c.seconds)))
    }
  }
}
