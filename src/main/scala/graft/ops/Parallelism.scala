package graft.ops

import org.apache.spark.sql.DataFrame

/** Work-bounded forced-parallelism helper (round-17).
  *
  * Round 16 forced under-parallel scans and byte-tiny exchanges up to
  * `defaultParallelism` ahead of compute-dense kernels. That is right
  * when the kernel carries real CPU per task, but UNBOUNDED it
  * multiplies total work on sub-task-sized inputs: a 584 KB corpus
  * round-robined 32 ways runs each downstream partial aggregation 32
  * times over vocabulary-sized state (round-17 profile: q195's 32-way
  * plan executes ~9 s of summed task time for ~1.5 s of single-task
  * work — wall is fine on an idle box, but the 6x work amplification
  * is what a contended box turns into the round-16 driver's 9.4 s
  * outlier). The fix the round-16 verdict prescribed: cap the forced
  * partition count by MEASURED work — here the optimizer's size
  * estimate — so per-task input stays at least `targetBytes`.
  *
  * Scale posture: estimates derive from file sizes, so any
  * production-sized input saturates the clamp at defaultParallelism
  * (and the callers' "already parallel" guards short-circuit first);
  * the cap only bites on inputs small enough that full fan-out
  * duplicates more state than it parallelizes compute.
  */
private[graft] object Parallelism {

  /** Partition count for a forced repartition of `df`: size estimate
    * divided by `targetBytes`, clamped to [minPartitions,
    * defaultParallelism] (the floor itself capped at defaultParallelism).
    * An unknown/absurd estimate (> 1 TB — Catalyst's "no stats"
    * posture is Long.MaxValue-ish) falls back to full parallelism:
    * better to over-parallelize a frame we cannot size than to
    * serialize a genuinely large one.
    *
    * The estimate can also be far too LOW: without CBO a generator or
    * a projection over a small scan is sized from the scan, so a frame
    * that explodes to megabytes may read as a few bytes. A CPU-dense
    * caller passes `minPartitions` so that no estimate serializes its
    * kernel on one core. */
  def boundedCount(df: DataFrame, targetBytes: Long, minPartitions: Int = 1): Int = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val floor = math.max(1, math.min(minPartitions, par))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est > BigInt(1L << 40)) par
    else {
      val want = ((est + targetBytes - 1) / targetBytes).toLong
      math.max(floor.toLong, math.min(par.toLong, want)).toInt
    }
  }
}
