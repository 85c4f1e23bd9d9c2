package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The only session factory (Verify, Bench, the probes and the tests
  * all build through [[local]]; streams and maintainer steps clone its
  * session through [[graft.streaming.StreamSessions]]), plus
  * table-loading helpers.
  *
  * Tuned for the local[32] harness but written for cluster scale:
  * shuffle partitions follow core count (a real deployment sets this to
  * 2-3x total executor cores), AQE handles runtime coalescing and skew.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's coalescing is BYTES-based, so a compute-dense stage fed
      // by a byte-tiny shuffle (gram explosion, posting-list scoring,
      // candidate-pair verification) collapses to ONE task and
      // serializes its CPU work (round-16 measured 0.3-1.0 s
      // single-task stages across a dozen queries). Floor the
      // post-coalesce partition size far below the 1 MB default so
      // such stages keep their parallelism; the floor only binds when
      // per-core shuffle bytes < 1 MB — at production shuffle sizes
      // the advisory target governs and this is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "16k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries INT64 TIMESTAMP(NANOS) — read as long nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** All driver testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
