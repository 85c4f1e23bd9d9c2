package graft

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import graft.ops.{ApproxDedup, Parallelism}

/** SymSpell deletion-neighborhood edit-distance join: losslessness vs
  * brute force on adversarial perturbations, exactness of the
  * distance-1 contract, and the hot-block guard. */
class EditDistJoinSpec extends SparkSpec {
  import spark.implicits._

  private def brute(words: Seq[String]): Set[(String, String)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val distinct = words.distinct
    (for {
      a <- distinct; b <- distinct
      if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
  }

  test("an under-estimated vocabulary still spreads the kernel over its floor") {
    // 3,000 words exploded from a one-row scan: without CBO the frame
    // is sized from the scan, a few bytes, while it holds ~20 KB
    val vocab = spark.range(1)
      .select(explode(sequence(lit(0L), lit(2999L))).as("i"))
      .select(concat(lit("word"), col("i").cast("string")).as("w"))
    val est = vocab.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est < 4096 && vocab.count() == 3000,
      s"the frame must read as under one 4 KB task, estimate $est")
    assert(Parallelism.boundedCount(vocab, 4 * 1024L) == 1)
    val par = spark.sparkContext.defaultParallelism
    val floor = math.min(ApproxDedup.EditKernelMinPartitions, par)
    assert(Parallelism.boundedCount(vocab, 4 * 1024L, minPartitions = 64) == par,
      "the floor is capped at the session's parallelism")
    // the join's keyed repartition takes the kernel's floor
    val pairs = ApproxDedup.editDistance1Pairs(vocab, "w")
    val counts = pairs.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression => r.numPartitions
    }
    assert(counts.nonEmpty && counts.forall(_ == floor), counts)
    assert(pairs.filter(col("word_a") === "word1" && col("word_b") === "word10")
      .count() == 1)
  }

  test("lossless vs brute force on perturbed vocabulary") {
    val rnd = new scala.util.Random(31)
    val bases = (1 to 40).map(_ =>
      (1 to (3 + rnd.nextInt(6))).map(_ => "abcde".charAt(rnd.nextInt(5))).mkString)
    val perturbed = bases.flatMap { w =>
      val i = rnd.nextInt(w.length)
      Seq(w,
        w.substring(0, i) + w.substring(i + 1),              // deletion
        w.substring(0, i) + "z" + w.substring(i),            // insertion
        w.substring(0, i) + "q" + w.substring(i + 1))        // substitution
    }
    val got = ApproxDedup.editDistance1Pairs(
        perturbed.toDF("w"), "w")
      .as[(String, String)].collect().toSet
    assert(got == brute(perturbed))
    assert(got.nonEmpty)
  }

  test("distance-2 pairs and duplicates never appear") {
    val words = Seq("abcd", "abxy", "abcd", "wxyz")
    val got = ApproxDedup.editDistance1Pairs(words.toDF("w"), "w")
      .collect()
    assert(got.isEmpty)
  }

  test("lookup returns exactly the minimum-distance suggestions") {
    val vocab = Seq("spark", "shark", "spade", "zzzzz").toDF("w")
    val probes = Seq("spark", "sparkx", "parks", "nowhere").toDF("p")
    val got = ApproxDedup.editDistance1Lookup(vocab, "w", probes, "p")
      .as[(String, String, Int)].collect().toSet
    // spark: exact hit wins at dist 0 (shark at 1 is NOT returned);
    // sparkx: insertion typo of spark; parks: transposition = dist 2,
    // NOT within 1 → absent; nowhere: absent
    assert(got == Set(("spark", "spark", 0), ("sparkx", "spark", 1)))
  }

  test("lookup keeps every tie at the minimum distance") {
    val vocab = Seq("cat", "car", "cot").toDF("w")
    val got = ApproxDedup.editDistance1Lookup(vocab, "w",
        Seq("caz").toDF("p"), "p")
      .as[(String, String, Int)].collect().toSet
    assert(got == Set(("caz", "cat", 1), ("caz", "car", 1)))
  }

  test("hot-variant guard fails fast with the op name") {
    // every 2-char word over a tiny alphabet shares 1-char deletions
    val words = (for (a <- 'a' to 'e'; b <- 'a' to 'e') yield s"$a$b").toDF("w")
    val e = intercept[IllegalArgumentException] {
      ApproxDedup.editDistance1Pairs(words, "w", maxBlockRows = 3).collect()
    }
    assert(e.getMessage.contains("editDistance1Pairs"))
  }
}
