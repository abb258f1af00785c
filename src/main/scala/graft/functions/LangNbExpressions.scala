package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashed char-n-gram naive-Bayes language identification — the
  * fastText/CCNet-style classifier (Joulin et al., "Bag of Tricks for
  * Efficient Text Classification", EACL 2017; Wenzek et al., "CCNet",
  * LREC 2020 use exactly this family for corpus language ID), trained
  * IN-ENGINE and shipped as a plan-reference constant like [[DsirLm]]:
  * per-language dense arrays of 9-dp-scaled log-likelihoods, one entry
  * per hash bucket, so scoring is a stateless map-side projection with
  * zero shuffles and the model rides generated code to every task.
  *
  * Model arithmetic (the [[DsirLm]]/q118 exactness discipline, so a
  * SQL oracle can replay every per-doc argmax):
  *
  *   λ_{l,b}  = round(ln[(c_{l,b}+1) / (tot_l+B)], 9)   (Laplace)
  *   prior_l  = round(ln[docs_l / N], 9)
  *   score_l(doc) = prior_l + Σ_occurrences λ_{l,bucket(ngram)}
  *
  * Buckets come from the md5 48-bit prefix mod B (the q103/q118
  * engine-portable hash); n-grams are CODEPOINT-windowed substrings
  * (both Spark's and DuckDB's `substr`/`length` count codepoints);
  * each λ is one ln over an exact-integer double quotient rounded
  * 9 dp; per-doc sums are exact scaled-long adds (the DECIMAL(38,9)
  * twin — exact while |score|·10⁹ < 2^53, i.e. docs up to ~500k
  * n-grams at typical |λ| ≤ 15). Argmax ties break on the
  * lexicographically smallest language code (langs are stored sorted
  * by code points, [[graft.core.Exact.codePointOrdering]]).
  */
final class LangNbModel(val langs: Array[String], val priorScaled: Array[Long],
    val lamScaled: Array[Array[Long]], val n: Int) extends Serializable {
  require(langs.nonEmpty && langs.length == priorScaled.length &&
    langs.length == lamScaled.length, "inconsistent model arrays")
  require(lamScaled.forall(_.length == lamScaled(0).length),
    "ragged per-language bucket arrays")
  require(n >= 1, s"ngram order must be >= 1, got $n")
  def buckets: Int = lamScaled(0).length
}

object LangNbModel {
  private def scaled9(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact()

  /** Build from collected model-sized statistics: `ngramCounts` =
    * (lang, bucket, cnt) rows of [[graft.operators.LangIdNb
    * .fitCounts]] (≤ L·B rows), `docCounts` = (lang, nDocs). The
    * double quotients are formed exactly as the oracle's
    * `CAST(x AS DOUBLE)/CAST(y AS DOUBLE)` — integer numerator and
    * denominator each ≤ 2^53, one IEEE division, one ln, one 9-dp
    * round.
    */
  def apply(ngramCounts: Iterable[(String, Long, Long)],
      docCounts: Iterable[(String, Long)], buckets: Int, n: Int): LangNbModel = {
    require(docCounts.nonEmpty, "no languages in training corpus")
    val langs = docCounts.map(_._1).toArray
      .sorted(graft.core.Exact.codePointOrdering)
    val li = langs.zipWithIndex.toMap
    val cnt = Array.fill(langs.length)(new Array[Long](buckets))
    ngramCounts.foreach { case (l, b, c) => cnt(li(l))(b.toInt) = c }
    val lam = Array.tabulate(langs.length) { i =>
      val tot = cnt(i).sum
      val a = new Array[Long](buckets)
      var b = 0
      while (b < buckets) {
        a(b) = scaled9(math.log(
          (cnt(i)(b) + 1L).toDouble / (tot + buckets).toDouble))
        b += 1
      }
      a
    }
    val dc = docCounts.toMap
    val nDocs = dc.valuesIterator.sum
    val prior = langs.map { l =>
      require(dc(l) > 0, s"language '$l' has zero training documents")
      scaled9(math.log(dc(l).toDouble / nDocs.toDouble))
    }
    new LangNbModel(langs, prior, lam, n)
  }
}

/** Language-ID kernels. Scoring (text → STRUCT(lang, score) under a
  * literal [[LangNbModel]]) is stateless, map-side and codegen'd —
  * language-ID of a live stream needs no shuffle, no state, no model
  * file distribution beyond the plan itself (the [[DsirKernel]]
  * shape).
  */
object LangNbKernel {
  /** All char-n-gram bucket ids of `text`, one entry per occurrence —
    * the FIT-side kernel, replacing the interpreted `transform`/`filter`
    * window HOF plus the per-occurrence md5/conv/substring expression
    * chain with one codegen'd scan per document:
    * [[graft.operators.LangIdNb.charNgrams]] + [[graft.operators.Dsir
    * .bucketOf]] as ONE scalar scan (the [[DsirKernel.ngramBuckets]]
    * precedent): codepoint-windowed substrings (both Spark's and
    * DuckDB's `substr`/`length` count codepoints), each hashed by the
    * md5-48-prefix-mod-B bucket. Empty array when the text is shorter
    * than n codepoints (the HOF's length filter leaves nothing).
    */
  def charNgramBuckets(text: UTF8String, n: Int, buckets: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val len = s.length
    var cpCount = 0
    var i = 0
    while (i < len) { i += Character.charCount(s.codePointAt(i)); cpCount += 1 }
    if (cpCount < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val off = new Array[Int](cpCount + 1)
    i = 0; var c = 0
    while (i < len) { off(c) = i; i += Character.charCount(s.codePointAt(i)); c += 1 }
    off(cpCount) = len
    val out = new Array[Long](cpCount - n + 1)
    var j = 0
    while (j <= cpCount - n) {
      out(j) = DsirKernel.bucket(s.substring(off(j), off(j + n)), buckets).toLong
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Score a document: (lang, score) of the argmax language, or
    * ("und", null) when the text is shorter than n codepoints (no
    * features — no evidence, mirroring the marker heuristic's 'und').
    */
  def score(text: UTF8String, m: LangNbModel): GenericInternalRow = {
    val s = text.toString
    val len = s.length
    // codepoint start offsets (UTF-16 indices); off(cp) .. off(cp+n)
    // bounds each n-gram — substr-by-codepoints, the engine-portable
    // window (Spark and DuckDB both count codepoints)
    var cpCount = 0
    var i = 0
    while (i < len) { i += Character.charCount(s.codePointAt(i)); cpCount += 1 }
    if (cpCount < m.n)
      return new GenericInternalRow(
        Array[Any](UTF8String.fromString("und"), null))
    val off = new Array[Int](cpCount + 1)
    i = 0; var c = 0
    while (i < len) { off(c) = i; i += Character.charCount(s.codePointAt(i)); c += 1 }
    off(cpCount) = len
    val nLang = m.langs.length
    val sums = m.priorScaled.clone()
    val b = m.buckets
    var j = 0
    while (j <= cpCount - m.n) {
      val bucket = DsirKernel.bucket(s.substring(off(j), off(j + m.n)), b)
      var l = 0
      while (l < nLang) { sums(l) += m.lamScaled(l)(bucket); l += 1 }
      j += 1
    }
    var best = 0
    var l = 1
    // strict >: ties keep the earlier (lexicographically smaller) lang
    while (l < nLang) { if (sums(l) > sums(best)) best = l; l += 1 }
    val score = java.math.BigDecimal.valueOf(sums(best).toDouble / 1e9)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(
      Array[Any](UTF8String.fromString(m.langs(best)), score))
  }
}

object LangNbExpressions {
  /** Column API: (lang, score) struct under a fitted model. */
  def langNbScore(text: Column, model: LangNbModel): Column =
    Kernel.column("graft_langnb", LangNbKernel, "score", StructType(Seq(
        StructField("lang", StringType, nullable = false),
        StructField("score", DoubleType, nullable = true))),
      Seq(text), Seq(StringType), Seq(model))

  /** Just the predicted language code — drop-in for
    * [[Text.langId]] wherever a trained model beats the marker
    * heuristic ([[graft.operators.LangSegment.segments]]' `scorer`).
    */
  def langNbId(text: Column, model: LangNbModel): Column =
    langNbScore(text, model).getField("lang")

  /** Char-n-gram bucket ids per occurrence (fit-side feature hash). */
  def charNgramBuckets(text: Column, n: Int, buckets: Int): Column = {
    require(n >= 1, s"ngram order must be >= 1, got $n")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    Kernel.column("graft_char_ngram_buckets", LangNbKernel, "charNgramBuckets",
      ArrayType(LongType, containsNull = false), Seq(text), Seq(StringType), Seq(n, buckets))
  }
}
