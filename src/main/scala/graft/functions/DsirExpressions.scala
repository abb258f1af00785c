package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The fitted DSIR bucket model as a PLAN-REFERENCE CONSTANT — the
  * [[BigramLm]] pattern applied to [[graft.operators.Dsir]]'s hashed
  * n-gram statistics: a DENSE array of per-bucket log importance
  * ratios (λ_b, 9-dp-rounded, scaled to exact longs), one entry per
  * bucket including the never-observed default. Model-sized by
  * construction — `buckets` longs (a 10k-bucket model is 80 KB), so
  * it rides generated code to every task like a model file.
  *
  * λ_b = round(ln[(T_b+1)(R+B) / ((R_b+1)(T+B))], 9) with HALF_UP
  * (Spark `round`), exactly the batch operator's per-occurrence
  * value — the kernel and the declarative plan are numerically
  * identical by construction.
  */
final class DsirLm(val lamScaled: Array[Long]) extends Serializable {
  def buckets: Int = lamScaled.length
}

object DsirLm {
  /** Build from collected (bucket, cnt) rows of the target and raw
    * [[graft.operators.Dsir.fitBucketCounts]] tables.
    */
  def apply(target: Iterable[(Long, Long)], raw: Iterable[(Long, Long)],
      buckets: Int): DsirLm = {
    val tc = new Array[Long](buckets)
    val rc = new Array[Long](buckets)
    target.foreach { case (b, c) => tc(b.toInt) = c }
    raw.foreach { case (b, c) => rc(b.toInt) = c }
    val tt = tc.sum
    val rt = rc.sum
    val lam = new Array[Long](buckets)
    var b = 0
    while (b < buckets) {
      // exact LONG products cast once — the batch operator's
      // ((tc+1)*(rt+B)) cast double / ((rc+1)*(tt+B)) cast double
      // order, bit-for-bit (products ≤ 2^53 by the operator contract)
      val ratio = ((tc(b) + 1L) * (rt + buckets)).toDouble /
        ((rc(b) + 1L) * (tt + buckets)).toDouble
      lam(b) = java.math.BigDecimal.valueOf(math.log(ratio))
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .movePointRight(9).longValueExact()
      b += 1
    }
    new DsirLm(lam)
  }
}

/** DSIR kernels. Scoring (tokens → STRUCT(n_ngrams, logw) under a
  * literal [[DsirLm]]) is stateless and map-side — DSIR scoring of a
  * live crawl is automatically STREAMING-capable (the q115 claim for
  * a second model family): no shuffle, no watermark, no state store;
  * the model rides the plan.
  */
object DsirKernel {
  /** md5 48-bit prefix of a UTF-8 string mod `buckets` — the engine-
    * portable bucket hash ([[graft.operators.Dsir.bucketOf]]'s
    * `conv(substring(md5(s), 1, 12), 16, 10) % B` as scalar code:
    * the first 12 hex chars are the first 6 digest bytes big-endian).
    */
  def bucket(s: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    (h % buckets).toInt
  }

  /** All unigram + bigram bucket ids of a token array, one entry per
    * OCCURRENCE, unigrams of position i before the bigram ending at i
    * — multiplicity preserved, order irrelevant to every count
    * consumer. One pass with the native md5 bucket hash, replacing the
    * two corpus scans (unigram explode ∪ bigram zip_with explode) +
    * per-occurrence md5/conv/substring expression chain of the HOF fit
    * — [[bucket]] ≡ `Dsir.bucketOf` is already under the q118/q121
    * oracle gate.
    */
  def ngramBuckets(tokens: ArrayData, buckets: Int): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long]( if (n == 0) 0 else 2 * n - 1)
    var i = 0
    var prev: String = null
    var p = 0
    while (i < n) {
      val w = tokens.getUTF8String(i).toString
      out(p) = bucket(w, buckets).toLong; p += 1
      if (prev != null) { out(p) = bucket(prev + " " + w, buckets).toLong; p += 1 }
      prev = w
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-doc log importance weight under a [[DsirLm]], numerically
    * IDENTICAL to [[graft.operators.Dsir.importanceWeights]]: every
    * unigram and bigram occurrence contributes its bucket's
    * 9-dp-scaled λ to an EXACT long sum (the DECIMAL(38,9)
    * aggregation's twin), then one correctly-rounded double cast and
    * a 6-dp HALF_UP round. Null for token-less docs (no features).
    */
  def logWeight(tokens: ArrayData, lm: DsirLm): InternalRow = {
    val n = tokens.numElements()
    if (n == 0) return null
    val b = lm.buckets
    var sumScaled = 0L
    var i = 0
    var prev: String = null
    while (i < n) {
      val w = tokens.getUTF8String(i).toString
      sumScaled += lm.lamScaled(bucket(w, b))
      if (prev != null) sumScaled += lm.lamScaled(bucket(prev + " " + w, b))
      prev = w
      i += 1
    }
    val nNgrams = (2L * n) - 1L
    val logw = java.math.BigDecimal.valueOf(sumScaled.toDouble / 1e9)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](nNgrams, logw))
  }
}

object DsirExpressions {
  private val tokenArray = ArrayType(StringType)

  /** Column API: score a token-array column under a fitted model. */
  def dsirLogWeight(tokens: Column, lm: DsirLm): Column =
    Kernel.column("graft_dsir_logw", DsirKernel, "logWeight", StructType(Seq(
        StructField("n_ngrams", LongType, nullable = false),
        StructField("logw", DoubleType, nullable = false))),
      Seq(tokens), Seq(tokenArray), Seq(lm), returnNullable = true)
  /** Column API: hashed uni+bigram bucket ids of a token array. */
  def ngramBuckets(tokens: Column, buckets: Int): Column = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    Kernel.column("graft_dsir_buckets", DsirKernel, "ngramBuckets",
      ArrayType(LongType, containsNull = false), Seq(tokens), Seq(tokenArray), Seq(buckets))
  }
}
