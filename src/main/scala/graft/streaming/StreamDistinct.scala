package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Cardinality

/** Streaming approximate distinct count: the HLL register table as
  * `flatMapGroupsWithState` state, folded per event — the streaming
  * face of [[graft.ops.Cardinality]] (same hash, same registers, same
  * integer-exact estimator, via its JVM-side mirror functions).
  *
  * State per key is a FIXED 1024 bytes regardless of how many events
  * stream through — this is why a sketch, not an exact distinct set,
  * is the per-key streaming state at scale (an exact set is unbounded;
  * the reference's ledger-table approach has the same growth problem
  * its SURVEY J2 note records). Because register max-merge is
  * associative/commutative/idempotent, the final emission after any
  * micro-batch partitioning equals the one-shot batch sketch of
  * everything seen — replays, batch boundaries and file orderings
  * cannot change it (StreamDistinctSpec pins stream == batch; q120
  * pins it against the SQL oracle).
  */
object StreamDistinct {

  case class Estimate(k: String, zero_regs: Long, estimate: Long)

  /** Per-key running distinct estimate over a (key, value) stream:
    * after each micro-batch, every key updated in that batch emits its
    * current (zero_regs, estimate). Run with output mode Update; the
    * latest emission per key is the stream's answer so far. */
  def estimates(ds: Dataset[(String, String)]): Dataset[Estimate] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[Array[Byte], Estimate](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(func = {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Array[Byte]]) =>
          val hadState = state.exists
          val regs = state.getOption.getOrElse(new Array[Byte](Cardinality.M))
          // null values don't count toward a distinct count (SQL
          // COUNT(DISTINCT) semantics)
          var folded = false
          rows.foreach { case (_, v) =>
            if (v != null) {
              folded = true
              val hv = Cardinality.hashLong(v)
              val b = Cardinality.bucketOfLong(hv)
              val r = Cardinality.rhoOfLong(hv).toByte
              if (r > regs(b)) regs(b) = r
            }
          }
          // A key whose values were ALL null never existed for the
          // batch path (Cardinality.sketch filters key rows with a
          // null value before grouping) or the SQL oracle (WHERE hv IS
          // NOT NULL) — emitting an empty-sketch row here would break
          // the stream == batch invariant on null-only keys, so such a
          // group leaves no state and no emission until a real value
          // arrives.
          if (!hadState && !folded) Iterator.empty
          else {
            state.update(regs)
            val (z, e) = Cardinality.estimateRegisters(regs)
            Iterator.single(Estimate(key, z, e))
          }
      })(Encoders.BINARY, Encoders.product[Estimate])

  /** Phased-replay harness ([[StreamSessions.replayLatest]]): drive
    * [[estimates]] over `phases` (each a (k STRING, v STRING) frame
    * landed as one micro-batch group under `root`) and return the
    * LATEST emission per key — the running answer after the whole
    * stream (each batch emits at most one row per key). */
  def replayEstimates(spark: SparkSession, phases: Seq[DataFrame],
                      root: String): DataFrame = {
    import spark.implicits._
    StreamSessions.replayLatest(spark, phases, root, "k STRING, v STRING") {
      in => estimates(in.as[(String, String)]).toDF()
    }("k", "zero_regs", "estimate")
  }
}
