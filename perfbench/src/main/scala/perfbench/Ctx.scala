package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call into the program. It fails when it throws or when an
  * output check on it fails; a failed call counts once. */
final class Call(val name: String) {
  var seconds = 0.0
  var failed = false
}

/** What one round of a workload measured. `objects` over `objectSeconds`
  * is the round's headline rate; `detail` holds the workload's own
  * metrics as samples (rates per round, latencies per request). */
final case class RoundOut(objects: Double, objectSeconds: Double, roundSeconds: Double,
                          detail: Map[String, Seq[Double]])

/** Per-run context handed to the workloads. `counting` is off during
  * warm-up, so warm-up calls are neither attempted nor failed, and the
  * warm-up skips the output checks. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val work: Path) {
  val calls = ArrayBuffer.empty[Call]
  val problems = ArrayBuffer.empty[String]
  /** Every output check made: (call, observed, truth). */
  val checks = ArrayBuffer.empty[(String, Map[String, String], Map[String, String])]
  var counting = false
  private var dirs = 0

  /** A fresh directory under the run's work dir. */
  def freshDir(tag: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(f"$tag-$dirs%04d"))
  }

  /** The tracer when this round is traced. */
  def traced: Option[Tracer] = tracer.filter(_.enabled)

  def span[T](name: String)(body: => T): T = traced match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Time one call into the program (a span when traced). A call that
    * throws is failed and rethrown: the round cannot go on without its
    * output. */
  def call[T](name: String)(body: => T): (T, Call) = {
    val c = new Call(name)
    if (counting) calls += c
    val t0 = System.nanoTime()
    try {
      val v = span(name)(body)
      c.seconds = (System.nanoTime() - t0) / 1e9
      (v, c)
    } catch {
      case e: Throwable =>
        c.seconds = (System.nanoTime() - t0) / 1e9
        fail(c, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    }
  }

  /** A call timed elsewhere (e.g. on a poller thread). */
  def record(name: String, seconds: Double): Call = {
    val c = new Call(name)
    c.seconds = seconds
    if (counting) calls += c
    c
  }

  def fail(c: Call, what: String): Unit = {
    if (!c.failed && counting) problems += s"${c.name}: $what"
    c.failed = true
  }

  /** Compare what a call produced with the planted truth, key by key;
    * any mismatch fails the call. Returns the mismatching keys. */
  def check(c: Call, observed: Map[String, String], truth: Map[String, String]): Seq[String] = {
    checks += ((c.name, observed, truth))
    val bad = Checks.mismatches(observed, truth)
    if (bad.nonEmpty) fail(c, "output check failed: " + bad.take(5).mkString("; "))
    bad
  }

  /** Run benchmark-side reads of the program's outputs (checks) outside
    * every program span. The warm-up round skips them (None), so they do
    * not count in the set-up time. */
  def checking[T](body: => T): Option[T] =
    if (counting) Some(span("bench.check")(body)) else None

  def attempted: Long = calls.size.toLong
  def failed: Long = calls.count(_.failed).toLong
}

object Checks {
  /** The keys of `truth` whose observed value differs (or is absent),
    * rendered "key: observed != truth". */
  def mismatches(observed: Map[String, String], truth: Map[String, String]): Seq[String] =
    truth.toSeq.sortBy(_._1).collect {
      case (k, v) if !observed.get(k).contains(v) =>
        s"$k: ${observed.getOrElse(k, "<missing>")} != $v"
    }
}
