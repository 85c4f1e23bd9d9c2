package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine extensions, installed by [[graft.GraftSession.local]] (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Registers the engine's native expressions so SQL and
  * `call_function` reach them; custom Rules/Strategies are
  * intentionally absent — SURVEY §4 established that Catalyst's
  * built-in rewrites cover every reference optimization, so the only
  * justified custom code is expression-level. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.apply(ext)
}

object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("multipart_etag_finish"),
      // 3-arg ExpressionInfo: the 5-arg form is deprecated since 3.0
      // (usage text lives in the Scaladoc of MultipartEtagFinish)
      new ExpressionInfo(
        classOf[MultipartEtagFinish].getName,
        null,
        "multipart_etag_finish"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "multipart_etag_finish expects (array<string> digests, boolean isMultipart)")
        MultipartEtagFinish(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(
        classOf[VecDot].getName,
        null,
        "vec_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "vec_dot expects (array<double> a, array<double> b)")
        VecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(
        classOf[WinnowFingerprints].getName,
        null,
        "winnow_fps"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3,
          "winnow_fps expects (string text, int k, int w)")
        def lit(e: org.apache.spark.sql.catalyst.expressions.Expression,
                name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            s"winnow_fps: $name must be an integer literal")
        }
        WinnowFingerprints(children.head,
          lit(children(1), "k"), lit(children(2), "w"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(
        classOf[MinhashSig].getName,
        null,
        "minhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "minhash_sig expects (array<string> shingles, int k)")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "minhash_sig: k must be an integer literal")
        }
        MinhashSig(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(
        classOf[SimhashSig].getName,
        null,
        "simhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "simhash_sig expects (array<string> tokens, int bits)")
        val bits = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "simhash_sig: bits must be an integer literal")
        }
        SimhashSig(children.head, bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("dhash_sig"),
      new ExpressionInfo(
        classOf[DhashSig].getName,
        null,
        "dhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "dhash_sig expects (string px)")
        DhashSig(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(
        classOf[WordNgrams].getName,
        null,
        "word_ngrams"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "word_ngrams expects (string text, int n)")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "word_ngrams: n must be an integer literal")
        }
        WordNgrams(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("hll_bucket_rho"),
      new ExpressionInfo(
        classOf[HllBucketRho].getName,
        null,
        "hll_bucket_rho"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "hll_bucket_rho expects (string key)")
        HllBucketRho(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_hash60"),
      new ExpressionInfo(
        classOf[Md5Hash60].getName,
        null,
        "md5_hash60"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "md5_hash60 expects (string key)")
        Md5Hash60(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(
        classOf[NfcNormalize].getName,
        null,
        "nfc_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "nfc_normalize expects (string text)")
        NfcNormalize(children.head)
      }))
  }
}
