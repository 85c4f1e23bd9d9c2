package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function pack — SURVEY.md §2.7 (F1–F15).
  *
  * Everything here is built from `org.apache.spark.sql.functions` so it
  * stays inside whole-stage codegen; the only UDF in the library is the
  * multipart-ETag digest concat (see [[MultipartEtag]]), which has no
  * built-in equivalent.
  */
object Fns {

  /** F1 — S3-inventory key decode: '+' means space, then percent-decode.
    * Reference semantics: `unquote_plus` (ListProducer/ListProducer.py:26-27).
    * `url_decode` alone does NOT decode '+' the same way for '%2B', so
    * first protect literal "%2B", then swap '+'→' ' via the %20 escape.
    */
  def plusDecode(c: Column): Column =
    url_decode(regexp_replace(c, lit("\\+"), lit("%20")))

  /** F8/J3 — deterministic message id: md5(endpoint + name + eventType)
    * (AzureTaskProducer/inventory_lib.py:74). */
  def msgId(endpoint: Column, name: Column, eventType: Column): Column =
    md5(concat(endpoint, name, eventType))

  /** F4/F5 — floor a timestamp-in-epoch-seconds to a bucket of `unitSec`
    * seconds (TaskMonitor/s3_monitor_statistic.py:27-36, ddbModel.py:225). */
  def bucketFloor(epochSec: Column, unitSec: Int): Column =
    (epochSec.cast("bigint") / unitSec).cast("bigint") * unitSec

  /** F6 — ISO-8601 UTC render (inventory_lib.py:64-67). */
  def isoUtc(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** F10 — Azure endpoint synth (diff_azure_inventory_sqs.py:53). */
  def azureEndpoint(storageAccount: Column): Column =
    concat(lit("https://"), storageAccount, lit(".blob.core.windows.net"))

  /** F10 — blob url = endpoint + '/' + name. */
  def blobUrl(endpoint: Column, name: Column): Column =
    concat(endpoint, lit("/"), name)

  /** F11 — parse `s3://bucket/key...` (TaskExecutor/TaskExecutor.py:113-117). */
  def s3Bucket(uri: Column): Column =
    regexp_extract(uri, "^s3://([^/]+)/(.*)$", 1)
  def s3Key(uri: Column): Column =
    regexp_extract(uri, "^s3://([^/]+)/(.*)$", 2)

  /** F12 — 1000-based byte humanization, reference-exact
    * (UICenter common.js:75-93 getNumberAndUnitFromBytes;
    * BytesConverterNumber=1000 from install.py:330).
    *
    * Semantics: scan units PB→KB; promote to unit i when
    * round(b/1000^i, 1) >= 1 (i.e. the threshold applies to the ROUNDED
    * value, so 999,950 B renders "1.0MB"); render with exactly one
    * decimal. Below every unit, fall through to raw integer bytes with
    * NO decimal ("500B"). round(x,1) is HALF_UP in Spark, matching JS
    * Math.round(x*10)/10 for positive inputs. */
  def humanBytes(bytes: Column): Column = {
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    val b = bytes.cast("double")
    val fallthrough = concat(bytes.cast("bigint").cast("string"), lit("B"))
    // foldLeft builds inside-out: iterate KB→PB so PB lands outermost,
    // giving the reference's PB→KB check order.
    (1 to 5).foldLeft(fallthrough) { (acc, i) =>
      val r = round(b / math.pow(1000.0, i.toDouble), 1)
      when(r >= 1.0, concat(format_string("%.1f", r), lit(units(i)))).otherwise(acc)
    }
  }

  /** F13 — long parse with null on garbage (largeInventoryDiffToSQS.py:106-111).
    * Spark 4 defaults to ANSI mode where a plain cast of a malformed
    * string THROWS; try_cast yields null instead, in every ANSI setting. */
  def safeLong(c: Column): Column = c.try_cast("bigint")

  /** F15 — deterministic queue pick: `key mod n`, rendered `prefix-%03d`
    * (ListProducer.py:111-118 uses random; the engine replaces the random
    * pick with a stable hash-mod so task routing is reproducible). */
  def queueName(prefix: Column, key: Column, n: Int): Column =
    format_string("%s-%03d", prefix, pmod(key.cast("bigint"), lit(n.toLong)) + 1)

  /** P13 — string flag coercion (TaskExecutor.py:58-64). */
  def boolFlag(c: Column): Column = lower(c) === "true"
  def replicatedFlag(c: Column): Column =
    when(length(coalesce(c, lit(""))) > 0, 1).otherwise(0)

  /** The engine's EIGHTH-BIT integer log₂ idiom, shared by the BM25
    * idf and the LM cross-entropy weights (one definition — a future
    * overflow/mantissa fix cannot silently miss one of them): given a
    * SQL fragment for q8 = 256·num div den (num ≥ den > 0 BIGINTs),
    * returns SQL for ⌊8·log₂(num/den)⌋-style quantization — whole
    * bits from the bit length plus a 3-bit mantissa correction,
    * exact integers end to end, 0 at num == den, never negative. The
    * fragment is inlined (re-evaluated) rather than bound — callers
    * keep it a column reference or a cheap integer expression. */
  def bits8FromQ8Sql(q8: String): String =
    s"CAST((CAST(length(bin($q8)) - 1 AS INT) - 8) * 8 + (($q8) * 8)" +
      s" div shiftleft(CAST(1 AS BIGINT)," +
      s" CAST(length(bin($q8)) - 1 AS INT)) - 8 AS BIGINT)"
}
