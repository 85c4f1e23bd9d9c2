package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sequential suites). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` runs, counted through [[Meter]]. */
  def countJobs(body: => Any): Int = Meter.measure(spark)(body)._2.jobs.size

  /** The .scala/.java files under src/main and src/test whose text
    * matches `pattern`, for the source guards (run from the project
    * root). */
  def sourcesMatching(pattern: String): Seq[java.io.File] = {
    val roots = Seq("src/main", "src/test").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "run from the project root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
      else Nil
    val re = pattern.r
    roots.flatMap(files).filter(f => re.findFirstIn(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined)
  }
}
