package graft

import org.apache.spark.sql.functions._

import graft.ops.Distribution

/** Log₂-histogram distribution profile: integer-exact bucketing,
  * sum-mergeability, and the factor-2 quantile band. */
class DistributionSpec extends SparkSpec {
  import spark.implicits._

  test("bucket is the bit-length floor(log2), -1 for non-positives") {
    val vals = Seq(-5L, 0L, 1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 1025L,
      (1L << 40) - 1, 1L << 40)
    val got = vals.toDF("v")
      .select(Distribution.log2Bucket(col("v")).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val want = vals.map(v => if (v <= 0) -1L
      else (63 - java.lang.Long.numberOfLeadingZeros(v)).toLong)
    assert(got == want, s"got=$got want=$want")
  }

  test("histogram counts partition the input; merge of halves == whole") {
    val vals = (1 to 2000).map(i => (i % 4, (i * i % 5000 + 1).toLong))
    val df = vals.toDF("g", "v").repartition(8)
    val whole = Distribution.logHistogram(df, Seq("g"), col("v"))
    assert(whole.agg(sum("n")).collect().head.getLong(0) == 2000L)
    val h1 = Distribution.logHistogram(df.filter(col("v") % 2 === 0),
      Seq("g"), col("v"))
    val h2 = Distribution.logHistogram(df.filter(col("v") % 2 =!= 0),
      Seq("g"), col("v"))
    val merged = Distribution.mergeHistograms(Seq(h1, h2), Seq("g"))
    val a = merged.orderBy("g", "bucket").collect().toSeq
    val b = whole.orderBy("g", "bucket").collect().toSeq
    assert(a == b, "summed halves must equal the whole-corpus histogram")
  }

  test("quantile estimates band the true quantile within factor 2") {
    val vals = (1 to 5000).map(i => ((i * 2654435761L) % 100000 + 1))
    val df = vals.toDF("v")
    val qs = Seq(500000L, 900000L, 990000L)
    val est = Distribution.quantiles(df, Nil, col("v"), qs)
      .collect().map(r => r.getAs[Long]("q_ppm") -> r.getAs[Long]("est")).toMap
    val sorted = vals.sorted
    for (q <- qs) {
      val rank = ((sorted.size.toLong * q + 999999) / 1000000).toInt
      val truth = sorted(rank - 1)
      val e = est(q)
      // est is the crossed bucket's lower bound: est <= truth < 2*est
      assert(e <= truth && truth < 2 * e,
        s"q=$q: est=$e truth=$truth not within [est, 2*est)")
    }
  }

  test("quantiles from a MERGED ledger equal quantiles over the whole") {
    val vals = (1 to 3000).map(i => (s"s${i % 3}", (i * 7 % 900 + 1).toLong))
    val df = vals.toDF("g", "v").repartition(8)
    val parts = (0 to 2).map(h =>
      Distribution.logHistogram(
        df.filter(abs(hash(col("v"))) % 3 === h), Seq("g"), col("v")))
    val ledger = Distribution.mergeHistograms(parts, Seq("g"))
    val fromLedger = Distribution.quantilesFromHistogram(
      ledger, Seq("g"), Seq(500000L, 990000L))
      .orderBy("g", "q_ppm").collect().toSeq
    val direct = Distribution.quantiles(df, Seq("g"), col("v"),
      Seq(500000L, 990000L)).orderBy("g", "q_ppm").collect().toSeq
    assert(fromLedger == direct)
  }

  test("nulls are excluded from the histogram") {
    val df = Seq(Some(4L), None, Some(4L), Some(9L), None).toDF("v")
    val h = Distribution.logHistogram(df, Nil, col("v"))
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(h.toSeq == Seq((2L, 2L), (3L, 1L)))
  }

  // ------------------------- exact quantile selection (q146 operator)

  private def refRankth(vals: Seq[Long], qPpm: Long): Long = {
    val sorted = vals.sorted
    val rank = ((vals.size.toLong * qPpm + 999999L) / 1000000L).toInt
    sorted(rank - 1)
  }

  test("exactQuantiles returns the true rank-th element per group") {
    // duplicates, negatives, skew, a single-element group
    val data =
      (1 to 1000).map(i => ("a", ((i * 2654435761L) % 5000) - 2500)) ++
      (1 to 500).map(_ => ("b", 7L)) ++ // all-duplicates group
      (1 to 300).map(i => ("c", i.toLong * i)) ++
      Seq(("d", -42L)) // single element
    val df = data.toDF("g", "v").repartition(8)
    val qs = Seq(1L, 250000L, 500000L, 990000L, 1000000L)
    val got = Distribution.exactQuantiles(df, Seq("g"), col("v"), qs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byG = data.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for ((g, vals) <- byG; q <- qs) {
      assert(got((g, q)) == refRankth(vals, q),
        s"group $g q=$q: got ${got((g, q))} want ${refRankth(vals, q)}")
    }
  }

  test("exactQuantiles converges on a 2^50-wide adversarial range") {
    val vals = Seq(-(1L << 49), -12345L, 0L, 3L, 3L, 999999999999L, 1L << 49)
    val df = vals.toDF("v")
    val got = Distribution.exactQuantiles(df, Nil, col("v"),
        Seq(500000L, 1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(500000L) == refRankth(vals, 500000L))
    assert(got(1000000L) == (1L << 49))
  }

  test("exactQuantiles job count tracks passes, NOT the state count") {
    // same per-group value distribution -> same pass count; 12x the
    // states must cost the SAME number of jobs (every pass narrows all
    // open states in one job via the broadcast state table)
    val one = (1 to 4000).map(i => ("g0", (i * 37L) % 100000))
      .toDF("g", "v").repartition(8)
    val twelve = (1 to 4000).map(i => (s"g${i % 4}", (i * 37L) % 100000))
      .toDF("g", "v").repartition(8)
    val jOne = countJobs(
      Distribution.exactQuantiles(one, Seq("g"), col("v"),
        Seq(500000L)).collect())
    val jTwelve = countJobs(
      Distribution.exactQuantiles(twelve, Seq("g"), col("v"),
        Seq(250000L, 500000L, 990000L)).collect())
    assert(jTwelve <= jOne + 2, // same passes (+AQE jitter allowance)
      s"12 states cost $jTwelve jobs vs $jOne for 1 state — job count " +
        "must not scale with states")
  }

  test("madOutliers: exact lower medians, robust threshold, outlier count") {
    // g1: med = 3 (sorted 1,2,3,4,100 rank ceil(5/2)=3), devs sorted
    // 0,1,1,2,97 -> mad = 1, threshold = 6, one outlier (100)
    // g2: all equal -> med = 7, mad = 0, threshold = 7, no outliers
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("g1", _)) ++
      Seq(7L, 7L, 7L).map(("g2", _))).toDF("g", "v")
    val out = Distribution.madOutliers(df, Seq("g"), col("v"), mult = 3L)
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("g1", 3L, 1L, 6L, 5L, 1L, 100L),
      ("g2", 7L, 0L, 7L, 3L, 0L, 7L)))
    // robustness: a second, LARGER burst cannot drag the threshold up
    // past itself (50% breakdown — mean/stddev flagging would)
    val burst = (Seq(1L, 2L, 3L, 4L, 100L, 1000L).map(("g1", _))).toDF("g", "v")
    val b = Distribution.madOutliers(burst, Seq("g"), col("v"), mult = 3L)
      .select("med", "mad", "n_outliers").as[(Long, Long, Long)].head()
    assert(b._1 == 3L && b._3 == 2L,
      s"both bursts must stay flagged over the robust baseline: $b")
  }
}
