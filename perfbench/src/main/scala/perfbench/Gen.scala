package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Helpers the seeded generators share. Every generator draws from
  * `java.util.Random` streams derived from the seed, so one seed writes
  * byte-identical inputs. */
object Gen {
  val mapper = new ObjectMapper()

  /** An independent random stream per purpose, derived from the seed. */
  def rng(seed: Long, purpose: String): java.util.Random =
    new java.util.Random(seed * 1000003L ^ purpose.hashCode.toLong)

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def md5(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("MD5").digest(b)

  def randomHex(r: java.util.Random, bytes: Int): String = {
    val b = new Array[Byte](bytes); r.nextBytes(b); hex(b)
  }

  /** Gzip-compress `lines` into `path` (the gzip header carries no
    * timestamp, so the bytes depend on the lines only). */
  def writeGzipLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(path)), UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def jsonString(s: String): String = mapper.writeValueAsString(s)

  /** The planted truth beside the inputs: a flat, sorted key → value
    * object, the exact values the output checks compare against. */
  def writeTruth(dir: Path, truth: Map[String, Any]): Unit = {
    val node = mapper.createObjectNode()
    truth.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v.toString) }
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("truth.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node) + "\n")
  }

  def readTruth(dir: Path): Map[String, String] = {
    val node = mapper.readTree(dir.resolve("truth.json").toFile).asInstanceOf[ObjectNode]
    node.fieldNames().asScala.map(k => k -> node.get(k).asText).toMap
  }

  /** Truth entries under `prefix.`, with the prefix removed. */
  def section(truth: Map[String, String], prefix: String): Map[String, String] =
    truth.collect { case (k, v) if k.startsWith(prefix + ".") => k.drop(prefix.length + 1) -> v }

  /** A Zipf(s=1.1) sampler over ranks 0 until n. */
  final class Zipf(n: Int, r: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A distinct pronounceable word for each rank `i` (base-90
    * syllables, at least two). */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val sb = new StringBuilder
    var x = i + 90
    while (x > 0) {
      val d = x % 90
      sb += cons(d / 5); sb += vow(d % 5)
      x /= 90
    }
    sb.toString
  }
}
