package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSessionShim, SparkSession}

/** The one place a micro-batch session is made.
  *
  * A stateful stream's state-store partition count is pinned from
  * `spark.sql.shuffle.partitions` when its checkpoint is created, and
  * every micro-batch thereafter loads, writes and commits one state
  * store per partition (plus its maintenance snapshots), whether or not
  * the partition holds a row. So the count is never inherited from the
  * host session's corpus-scale parallelism (round-17 profile: the
  * two-batch stats stream, q49, paid 1144 fs ops and 32 near-empty
  * state tasks per batch at 32 session cores, about four times its
  * cost at 8; the stateless foreachBatch maintainers hit the same wall
  * through their per-batch aggregations). Nor does one fixed count fit
  * every stream; each count comes from the query's own state bound:
  *
  *  - a query whose live state has a small known bound passes its
  *    count to [[microBatch]]. The monitor's stats stream
  *    ([[TaskPipeline.runStatsJob]]) keeps at most 11 window rows (a
  *    10-minute watermark over 1-minute windows), so it plans on one
  *    partition; at 8, its near-empty state tasks took about half of
  *    each batch;
  *  - a query whose state grows with its keys (the sketch streams
  *    [[HistStream]], [[FreqStream]], [[StreamDistinct]],
  *    [[SketchStream]]), and every other stream builder, keeps the
  *    default [[StatePartitions]].
  *
  * Two session shapes, both CLONES of the caller's session:
  *
  *  - [[microBatch]]: every graft stream builder plans against it —
  *    shuffle partitions as above, AQE as the host has it;
  *  - [[step]]: the maintainer steps ([[TrainStream]], [[LmStream]],
  *    [[ReplicaStream]]) run on it — [[StatePartitions]], AQE off.
  *
  * A clone copies the parent's RUNTIME SQL conf (overrides set after
  * the session was built, such as `spark.graft.store.validateUnique`,
  * catalogs and the session time zone, reach every batch) and shares the
  * SparkContext, extensions and cache; only the two settings above
  * differ from the parent. The parent is never mutated, so concurrent
  * maintainers and host queries never see each other's settings and
  * need no lock. A RESUMED checkpoint keeps whatever partition count
  * its metadata pinned (Spark ignores the conf then); results are
  * partition-count-invariant by construction (aggregations / keyed
  * state), so this is layout, not semantics.
  */
object StreamSessions {

  /** State/shuffle partition count of a streaming plan whose state
    * grows with its keys, and of every maintainer step: sized to
    * micro-batch volume, not cluster width. */
  val StatePartitions = 8

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartitionsKey = "spark.sql.shuffle.partitions"

  private def cloneWith(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val clone = GraftSessionShim.cloneSession(spark)
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** A clone that plans a stream on `partitions` state/shuffle
    * partitions (taken by a new checkpoint only). */
  def microBatch(spark: SparkSession,
                 partitions: Int = StatePartitions): SparkSession = {
    require(partitions >= 1, s"state partitions must be >= 1: $partitions")
    cloneWith(spark, PartitionsKey -> partitions.toString)
  }

  /** `batch` bound to a session that plans a maintainer step: AQE off
    * and micro-batch shuffle sizing. Every frame of a step is
    * model- or batch-sized with its joins already broadcast by hint,
    * so runtime re-planning cannot improve a stage — but it
    * materializes each query stage as its own scheduler job, tripling
    * the per-batch job count (TrainJobCountSpec pins it; Spark itself
    * disables AQE inside streaming plans, and foreachBatch bodies are
    * where it sneaks back). With AQE off, the host's corpus-scale
    * partition count would run each batch-sized aggregation as mostly
    * empty tasks, hence the sizing. Idempotent: a frame whose session
    * already plans that way is returned as is. */
  def step(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    if (s.conf.get(AqeKey) == "false" &&
        s.conf.get(PartitionsKey) == StatePartitions.toString) batch
    else GraftSessionShim.rebind(batch, cloneWith(s, AqeKey -> "false",
      PartitionsKey -> StatePartitions.toString))
  }

  /** Label the jobs `body` submits (the optimization guide's §1.5
    * discipline — a maintainer batch fans into many small actions and
    * an unlabeled UI/bench timeline cannot attribute them). Thread-
    * local, saved and restored, so a maintainer's label never leaks
    * into the host application's own jobs. */
  def labeled[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Run independent store writes concurrently on short-lived threads
    * (Spark schedules concurrent jobs from one session fine; frames
    * from one [[step]] session plan under the same micro-batch
    * settings on both sides). Rethrows the first failure. */
  def inParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      new Thread(() => {
        try t()
        catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"graft-batch-writer-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (failure.get() != null) throw failure.get()
  }

  /** Phased-replay harness of the sketch streams ([[HistStream]],
    * [[FreqStream]], [[StreamDistinct]], [[SketchStream]]), shared by
    * their oracle gates and specs: `phases.head` lands under
    * `root/in`, `query` runs over a file stream of `schema` there, and
    * each further phase lands and drains with `processAllAvailable`,
    * so every phase is its own micro-batch group. The stream is always
    * stopped, even when a phase write or batch fails — an orphaned
    * file-source stream would keep polling `root` for the rest of the
    * session. Returns `cols` of each key's LATEST emission set (every
    * row `k` emitted in its newest batch: a later batch re-emits the
    * key's whole summary). */
  private[streaming] def replayLatest(spark: SparkSession,
      phases: Seq[DataFrame], root: String, schema: String)(
      query: DataFrame => DataFrame)(cols: String*): DataFrame = {
    require(phases.nonEmpty, "replay needs at least one phase")
    import org.apache.spark.sql.functions.{col, lit, max}
    val inDir = s"$root/in"
    val updDir = s"$root/upd"
    phases.head.write.parquet(inDir)
    val q = query(microBatch(spark).readStream.schema(schema).parquet(inDir))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("update")
      .foreachBatch { (df: DataFrame, bid: Long) =>
        df.withColumn("_bid", lit(bid)).write.mode("append").parquet(updDir)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      phases.tail.foreach { p =>
        p.write.mode("append").parquet(inDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val upd = spark.read.parquet(updDir)
    val latest = upd.groupBy("k").agg(max(col("_bid")).as("_bid"))
    upd.join(latest, Seq("k", "_bid")).select(cols.map(col): _*)
  }
}
