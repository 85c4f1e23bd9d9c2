package graft

import org.apache.spark.sql.functions._

import graft.ops.LinearTrainer

/** Runtime attribution for the trainer benches (q162/q168/q170 —
  * round 11 flagged wall regressions with NO plan change behind
  * them): the PlanGuardSpec idea applied to runtime. Pins that
  * `lmsTrain`'s job count is LINEAR in steps with a constant
  * per-step quota, and that `TrainStream.processBatch` settles into a
  * constant jobs-per-batch steady state — so a future bench drift
  * either trips these counts (real creep, fix the plan) or holds them
  * (environment, attributed). Shuffle bytes ride along: step/batch
  * shuffle volume must not grow across equal-size steps. */
class TrainJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def measured(body: => Unit): (Int, Long) = {
    val cost = Meter.measure(spark)(body)._2
    (cost.jobs.size, cost.shuffleBytes)
  }

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet").localCheckpoint()
  private lazy val feats = LinearTrainer
    .embeddingFeatures(emb, "vec_id", col("embedding")).localCheckpoint()
  private lazy val labels = emb.select(col("vec_id"),
      LinearTrainer.labelU(pmod(col("vec_id"), lit(2)) === 0).as("y_u"))
    .localCheckpoint()

  test("lmsTrain: jobs linear in steps, constant per-step quota") {
    def run(steps: Int): (Int, Long) = measured {
      LinearTrainer.lmsTrain(feats, labels, "vec_id", steps, 1L << 28)
      ()
    }
    run(1) // warm-up: JIT + first-touch costs out of the measurement
    val (j2, s2) = run(2)
    val (j6, s6) = run(6)
    val extraJobs = j6 - j2
    assert(extraJobs % 4 == 0,
      s"job count must be linear in steps: $j2 jobs @2 steps, $j6 @6")
    val perStep = extraJobs / 4
    // each step = one scored-metrics collect + one gradient collect,
    // which AQE materializes as ~10 stage-jobs (measured on the
    // shipped plan — broadcast + two shuffled aggs per collect).
    // Creep past this quota means a NEW job entered the step loop —
    // exactly what round 11's bench drift could not be told from
    // environment noise
    assert(perStep >= 1 && perStep <= 12,
      s"per-step job quota broken: $perStep jobs/step")
    // per-step shuffle volume is flat: 4 extra equal-size steps cost
    // ~4 equal shuffle increments (generous 3x headroom for AQE noise)
    val perStepBytes = (s6 - s2) / 4
    assert(perStepBytes <= math.max(1L, s2) * 3,
      s"per-step shuffle grew beyond the 2-step run: $perStepBytes vs $s2")
    println(s"TRAIN_JOBS lms steps2=$j2 steps6=$j6 perStep=$perStep " +
      s"perStepShuffleB=$perStepBytes")
  }

  test("TrainStream.processBatch: constant jobs per batch at steady state") {
    val ts = graft.streaming.TrainStream("vec_id",
      b => LinearTrainer.embeddingFeatures(b, "vec_id", col("embedding")),
      LinearTrainer.labelU(pmod(col("vec_id"), lit(2)) === 0),
      lrDenom = 1L << 28)
    val root = tmpDir("train_jobcount")
    def batch(i: Int) = emb.filter(pmod(col("vec_id"), lit(4)) === i)
      .localCheckpoint()
    ts.processBatch(batch(0), 1L, root) // bootstrap: empty-ledger path
    val (jA, _) = measured { ts.processBatch(batch(1), 2L, root) }
    val (jB, _) = measured { ts.processBatch(batch(2), 3L, root) }
    val (jC, _) = measured { ts.processBatch(batch(3), 4L, root) }
    // steady state: same plan per batch ⇒ same job count (±2 for
    // stage-count jitter); a monotone climb is maintainer creep
    assert(math.abs(jB - jA) <= 2 && math.abs(jC - jB) <= 2,
      s"per-batch job count must be steady: $jA, $jB, $jC")
    // round-13 brought the measured count to 15 (fused norm+score,
    // single merged materialization, AQE-off); round-16's MOR docs
    // ledger re-prices the batch at 20: +2 for the delta commit's
    // fused validation probe + staging job (replacing the plain
    // append write), +1 probe-bucket-discovery job, and the superset
    // probe's semi-join materializes one more broadcast. All
    // CONSTANTS — the steadiness assertion above is the creep guard —
    // and the trade bought O(batch) ledger writes (LedgerProbeSpec).
    // Quota 22 keeps two jobs of slack.
    assert(jC <= 22, s"per-batch job quota broken: $jC")
    println(s"TRAIN_JOBS stream perBatch=$jA,$jB,$jC")
  }
}
