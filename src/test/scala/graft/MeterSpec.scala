package graft

import graft.streaming.StreamSessions

/** [[Meter]] is the one measuring surface: its job count, busy union and
  * driver gap hold up under concurrent jobs, driver-side waits and late
  * events from earlier jobs, and no other code attaches a listener. */
class MeterSpec extends SparkSpec {

  /** One job of `tasks` tasks that each sleep `ms`. */
  private def sleepyJob(tasks: Int, ms: Long): Unit = {
    spark.sparkContext.parallelize(1 to tasks, tasks)
      .map { i => Thread.sleep(ms); i }.count()
    ()
  }

  test("concurrent jobs count once each and their busy union fits the wall") {
    val (_, c) = Meter.measure(spark) {
      StreamSessions.inParallel(() => sleepyJob(2, 300), () => sleepyJob(2, 300))
    }
    assert(c.jobs.size == 2, s"jobs: ${c.jobs}")
    assert(c.jobs.forall(j => j.endMs >= j.startMs && j.tasks == 2), s"jobs: ${c.jobs}")
    assert(c.busyS > 0.0 && c.busyS <= c.wallS, s"busy ${c.busyS}s vs wall ${c.wallS}s")
  }

  test("a driver-side wait between jobs shows up as driver time") {
    val (_, c) = Meter.measure(spark) {
      sleepyJob(1, 10)
      Thread.sleep(500)
      sleepyJob(1, 10)
    }
    assert(c.jobs.size == 2, s"jobs: ${c.jobs}")
    assert(c.driverS >= 0.5, s"driver ${c.driverS}s of wall ${c.wallS}s")
  }

  test("an earlier job's late events stay out of the next measurement") {
    sleepyJob(4, 50)
    val (_, c) = Meter.measure(spark)(())
    assert(c.jobs.isEmpty && c.stages.isEmpty, s"jobs ${c.jobs}, stages ${c.stages}")
  }

  test("an unlabelled job carries the call site of its action") {
    val (_, c) = Meter.measure(spark)(sleepyJob(1, 1))
    assert(c.jobs.size == 1 && c.jobs.head.description.isEmpty, s"jobs: ${c.jobs}")
    assert(c.jobs.head.callSite.startsWith("count at MeterSpec.scala:"), s"jobs: ${c.jobs}")
    // AQE runs a shuffle's map stage as a job of its own, on a pool thread
    val (_, q) = Meter.measure(spark)(
      spark.range(100).groupBy(org.apache.spark.sql.functions.col("id") % 3).count().collect())
    assert(q.jobs.size >= 2 && q.jobs.forall(_.callSite.startsWith("collect at MeterSpec.scala:")),
      s"jobs: ${q.jobs}")
  }

  test("Meter is the only place that attaches a Spark listener") {
    val sites = sourcesMatching("addSparkListener\\(")
    assert(sites.map(_.getName) == Seq("Meter.scala"),
      s"measure through graft.Meter, not a listener of your own: $sites")
  }
}
