package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.LinearTrainer
import graft.streaming.{LmStream, StreamSessions, TrainStream}

/** [[StreamSessions]] contracts: maintainer steps plan on session
  * clones, so two maintainers sharing the host session run concurrently
  * without mutating it (and without a lock), and the session factory
  * and the clone stay the only ways a session is made. */
class StreamSessionsSpec extends SparkSpec {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartitionsKey = "spark.sql.shuffle.partitions"

  // 300 deterministic 8-dim vectors in [-0.8, 0.8]
  private lazy val emb = spark.range(300L).select(col("id").as("vec_id"),
    array((0 until 8).map(j =>
      ((pmod(col("id") * (j + 3), lit(17L)) - 8) / 10.0)): _*).as("embedding"))

  private def docs(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta "), pmod(col("id"), lit(5L)))
        .as("text"))

  private val ts = TrainStream("vec_id",
    b => LinearTrainer.embeddingFeatures(b, "vec_id", col("embedding")),
    LinearTrainer.labelU(pmod(col("vec_id"), lit(2)) === 0),
    lrDenom = 1L << 28)
  private val lm = LmStream("doc_id", col("text"), 2)

  private def trainAll(root: String): Unit = (0 until 3).foreach { i =>
    ts.processBatch(emb.filter(pmod(col("vec_id"), lit(3)) === i), i + 1L, root)
  }
  private def lmAll(root: String): Unit = (0 until 3).foreach { i =>
    lm.processBatch(docs(i * 20L, i * 20L + 30L), i + 1L, root)
  }

  private def ledgers(trainRoot: String, lmRoot: String) =
    (ts.weights(spark, trainRoot).orderBy("b").collect().toSeq,
      lm.counts(spark, lmRoot).orderBy("context", "word").collect().toSeq)

  test("step rebinds onto an AQE-off clone, idempotently, host untouched") {
    val hostAqe = spark.conf.get(AqeKey)
    val hostSp = spark.conf.get(PartitionsKey)
    val df = docs(0L, 4L)
    val stepped = StreamSessions.step(df)
    assert(stepped.sparkSession ne spark)
    assert(stepped.sparkSession.conf.get(AqeKey) == "false")
    assert(stepped.sparkSession.conf.get(PartitionsKey) ==
      StreamSessions.StatePartitions.toString)
    assert(StreamSessions.step(stepped) eq stepped)
    assert(stepped.orderBy("doc_id").collect().toSeq ==
      df.orderBy("doc_id").collect().toSeq)
    assert(spark.conf.get(AqeKey) == hostAqe &&
      spark.conf.get(PartitionsKey) == hostSp)
  }

  test("Train and Lm steps run concurrently on one host session, unmutated") {
    val seqTrain = tmpDir("ss_train_seq")
    val seqLm = tmpDir("ss_lm_seq")
    lm.bootstrap(docs(1000L, 1010L), seqLm)
    trainAll(seqTrain)
    lmAll(seqLm)

    val parTrain = tmpDir("ss_train_par")
    val parLm = tmpDir("ss_lm_par")
    lm.bootstrap(docs(1000L, 1010L), parLm)
    val hostAqe = spark.conf.get(AqeKey)
    val hostSp = spark.conf.get(PartitionsKey)
    val seen = ConcurrentHashMap.newKeySet[String]()
    val done = new AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!done.get()) {
        val aqe = spark.conf.get(AqeKey)
        val sp = spark.conf.get(PartitionsKey)
        if (aqe != hostAqe || sp != hostSp) seen.add(s"aqe=$aqe partitions=$sp")
        Thread.sleep(1)
      }
    }, "host-conf-poller")
    poller.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Seq(Future(trainAll(parTrain)), Future(lmAll(parLm)))
        .foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally { done.set(true); poller.join() }

    assert(seen.isEmpty, "host session conf changed under the poller")
    val (seqW, seqC) = ledgers(seqTrain, seqLm)
    val (parW, parC) = ledgers(parTrain, parLm)
    assert(seqW.nonEmpty && seqC.nonEmpty)
    assert(parW == seqW, "concurrent TrainStream weights differ from sequential")
    assert(parC == seqC, "concurrent LmStream counts differ from sequential")
  }

  test("one session factory, one clone site") {
    def offenders(pattern: String, allowed: Set[String]): Seq[String] =
      sourcesMatching(pattern).filterNot(f => allowed(f.getName)).map(_.getPath)
    val builders = offenders("SparkSession\\s*\\.\\s*builder",
      Set("GraftSession.scala"))
    assert(builders.isEmpty,
      s"build sessions through GraftSession.local, not in: $builders")
    val clones = offenders("\\b(newSession|cloneSession)\\s*\\(",
      Set("StreamSessions.scala", "GraftSessionShim.scala"))
    assert(clones.isEmpty,
      s"derive sessions through StreamSessions, not in: $clones")
  }
}
