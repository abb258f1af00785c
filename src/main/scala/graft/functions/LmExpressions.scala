package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The trained bigram LM as a PLAN-REFERENCE CONSTANT — the
  * [[BpeSegmentKernel]] model-constant pattern applied to
  * [[graft.operators.LanguageModel]]'s statistics: CCNet's scoring
  * stage ships the LM to every node as a model file, and the Spark
  * analogue is a Serializable object referenced from generated code.
  * Model-sized by contract: |distinct bigrams| entries (tens of MB at
  * web scale — the same budget as a KenLM file), collected once at
  * train time, NOT per row or per batch.
  *
  * Keys are length-prefixed ("<len(w1)>:w1w2"): the prefix fixes the
  * split point, so (w1, w2) → key is injective for ALL token
  * contents — no reliance on any separator char being absent.
  */
final class BigramLm(
    bigrams: java.util.HashMap[String, Long],
    ctx: java.util.HashMap[String, Long],
    val vocab: Long) extends Serializable {
  def count(w1: String, w2: String): Long =
    bigrams.getOrDefault(BigramLm.key(w1, w2), 0L)
  def context(w1: String): Long = ctx.getOrDefault(w1, 0L)
  def size: Int = bigrams.size
}

object BigramLm {
  /** Injective bigram key: the length prefix fixes the w1/w2 split. */
  private[functions] def key(w1: String, w2: String): String =
    w1.length.toString + ":" + w1 + w2

  /** Build from collected (w1, w2, cnt) rows (the trainBigram table). */
  def apply(rows: Iterable[(String, String, Long)], vocab: Long): BigramLm = {
    val bg = new java.util.HashMap[String, Long]()
    val cx = new java.util.HashMap[String, Long]()
    rows.foreach { case (w1, w2, c) =>
      bg.put(key(w1, w2), c)
      cx.merge(w1, c, (a, b) => a + b)
    }
    new BigramLm(bg, cx, vocab)
  }
}

/** Bigram LM scoring (tokens → STRUCT(n_bigrams, ppl) under a literal
  * [[BigramLm]]). Stateless and map-side — which is what makes LM
  * quality filtering automatically STREAMING-capable (q115): no
  * shuffle, no watermark, no state store; the model rides the plan.
  */
object LmKernel {
  /** Per-doc perplexity under a [[BigramLm]], numerically IDENTICAL
    * to [[graft.operators.LanguageModel.perplexity]]'s declarative
    * plan: each bigram's ln p is rounded to 9 dp (HALF_EVEN — Spark's
    * `bround`), the rounded values sum EXACTLY (scaled-long integer
    * arithmetic stands in for the DECIMAL(38,9) aggregation: every
    * 9-dp value × 1e9 is an integer), one double divide for the mean,
    * and `exp` + 6-dp rounding at the end. Returns null for docs with
    * fewer than two tokens (no bigrams — no LM evidence), matching
    * the batch operator's inner-join absence.
    */
  def perplexity(tokens: ArrayData, lm: BigramLm): InternalRow = {
    val n = tokens.numElements()
    if (n < 2) return null
    var sumScaled = 0L
    var i = 0
    while (i < n - 1) {
      val w1 = tokens.getUTF8String(i).toString
      val w2 = tokens.getUTF8String(i + 1).toString
      val p = (lm.count(w1, w2) + 1).toDouble / (lm.context(w1) + lm.vocab).toDouble
      val llScaled = java.math.BigDecimal.valueOf(math.log(p))
        .setScale(9, java.math.RoundingMode.HALF_EVEN)
        .movePointRight(9).longValueExact()
      sumScaled += llScaled
      i += 1
    }
    val nBigrams = (n - 1).toLong
    // DECIMAL(38,9)→DOUBLE cast and long/1e9 are both the correctly
    // rounded double of the same rational — identical by construction
    val avg = (sumScaled.toDouble / 1e9) / nBigrams
    val ppl = java.math.BigDecimal.valueOf(math.exp(-avg))
      .setScale(6, java.math.RoundingMode.HALF_EVEN).doubleValue()
    new GenericInternalRow(Array[Any](nBigrams, ppl))
  }
}

/** Interpolated Kneser–Ney bigram statistics as a plan-reference
  * constant (the [[BigramLm]] pattern for
  * [[graft.operators.LanguageModel.perplexityKneserNey]]): the four
  * broadcast-joined model frames (bigram counts, per-context sums +
  * continuation counts, backward continuation counts, distinct-bigram
  * total) collapse into driver maps derived from ONE collected counts
  * table — scoring becomes a stateless map-side projection instead of
  * four broadcast builds per serve.
  */
final class KneserNeyLm(
    bigrams: java.util.HashMap[String, Long],
    ctxSum: java.util.HashMap[String, Long],
    ctxN1f: java.util.HashMap[String, Long],
    bwdN1b: java.util.HashMap[String, Long],
    val nb: Long) extends Serializable {
  def count(w1: String, w2: String): Long =
    bigrams.getOrDefault(BigramLm.key(w1, w2), 0L)
  /** −1 when the context is unseen (the left join's null). */
  def ctx(w1: String): Long = ctxSum.getOrDefault(w1, -1L)
  def n1f(w1: String): Long = ctxN1f.getOrDefault(w1, 0L)
  def n1b(w2: String): Long = bwdN1b.getOrDefault(w2, 0L)
}

object KneserNeyLm {
  /** Build from collected (w1, w2, cnt) rows; ctx/bwd/nb statistics
    * are derived on the driver — same exact integers the frame
    * aggregates produced (Σ and counts over the identical rows).
    */
  def apply(rows: Iterable[(String, String, Long)]): KneserNeyLm = {
    val bg = new java.util.HashMap[String, Long]()
    val cs = new java.util.HashMap[String, Long]()
    val cf = new java.util.HashMap[String, Long]()
    val bw = new java.util.HashMap[String, Long]()
    var n = 0L
    rows.foreach { case (w1, w2, c) =>
      bg.put(BigramLm.key(w1, w2), c)
      cs.merge(w1, c, (a, b) => a + b)
      cf.merge(w1, 1L, (a, b) => a + b)
      bw.merge(w2, 1L, (a, b) => a + b)
      n += 1
    }
    new KneserNeyLm(bg, cs, cf, bw, n)
  }
}

/** Interpolated trigram (Jelinek–Mercer) statistics as a plan
  * constant ([[graft.operators.LanguageModel.perplexityTrigram]]):
  * tri/bi/uni count maps with ctx3/ctx2/totals derived on the driver.
  */
final class TrigramLm(
    tri: java.util.HashMap[String, Long],
    ctx3m: java.util.HashMap[String, Long],
    bi: java.util.HashMap[String, Long],
    ctx2m: java.util.HashMap[String, Long],
    uni: java.util.HashMap[String, Long],
    val t: Long, val v: Long) extends Serializable {
  def cnt3(w1: String, w2: String, w3: String): Long =
    tri.getOrDefault(TrigramLm.key3(w1, w2, w3), -1L)
  def ctx3(w1: String, w2: String): Long =
    ctx3m.getOrDefault(BigramLm.key(w1, w2), -1L)
  def cnt2(w1: String, w2: String): Long =
    bi.getOrDefault(BigramLm.key(w1, w2), -1L)
  def ctx2(w1: String): Long = ctx2m.getOrDefault(w1, -1L)
  def cnt1(w: String): Long = uni.getOrDefault(w, 0L)
}

object TrigramLm {
  private[functions] def key3(w1: String, w2: String, w3: String): String =
    w1.length.toString + ":" + w2.length.toString + ":" + w1 + w2 + w3

  /** Build from the collected trainTrigram tables: (w1,w2,w3,cnt3)
    * rows, (w1,w2,cnt2) rows, (w,cnt1) rows. ctx3/ctx2 are the
    * row-sums of the next-lower-order tables and (t, v) the unigram
    * total/distinct — derived on the driver, same exact integers.
    */
  def apply(triRows: Iterable[(String, String, String, Long)],
      biRows: Iterable[(String, String, Long)],
      uniRows: Iterable[(String, Long)]): TrigramLm = {
    val tm = new java.util.HashMap[String, Long]()
    val c3 = new java.util.HashMap[String, Long]()
    val bm = new java.util.HashMap[String, Long]()
    val c2 = new java.util.HashMap[String, Long]()
    val um = new java.util.HashMap[String, Long]()
    triRows.foreach { case (w1, w2, w3, c) =>
      tm.put(key3(w1, w2, w3), c)
      c3.merge(BigramLm.key(w1, w2), c, (a, b) => a + b)
    }
    biRows.foreach { case (w1, w2, c) =>
      bm.put(BigramLm.key(w1, w2), c)
      c2.merge(w1, c, (a, b) => a + b)
    }
    var t = 0L
    uniRows.foreach { case (w, c) => um.put(w, c); t += c }
    new TrigramLm(tm, c3, bm, c2, um, t, um.size.toLong)
  }
}

/** Kneser–Ney and interpolated-trigram perplexity scoring (tokens →
  * STRUCT(n_bigrams | n_trigrams, ppl) under a literal [[KneserNeyLm]]
  * / [[TrigramLm]]), the [[LmKernel]] shape.
  */
object LmScoreKernels {
  import java.math.{BigDecimal => JBig, RoundingMode}

  /** Exact image of `Exact.davg(_ll, 9)` + final rounding over
    * per-n-gram 9-dp log-likelihoods delivered as scaled longs:
    * non-finite lls (unreachable with a non-degenerate model) follow
    * the batch path's DECIMAL-cast-to-null semantics — skipped from
    * both the sum and the davg divisor, but counted in n-grams.
    */
  private def finishRow(nGrams: Long, sumScaled: Long, nFinite: Long,
      halfEven: Boolean): InternalRow = {
    if (nFinite == 0L)
      return new GenericInternalRow(Array[Any](nGrams, null))
    val avg = (sumScaled.toDouble / 1e9) / nFinite
    val mode = if (halfEven) RoundingMode.HALF_EVEN else RoundingMode.HALF_UP
    val ppl = JBig.valueOf(math.exp(-avg)).setScale(6, mode).doubleValue()
    new GenericInternalRow(Array[Any](nGrams, ppl))
  }

  private def scaled9(ll: Double, halfEven: Boolean): Long = {
    val mode = if (halfEven) RoundingMode.HALF_EVEN else RoundingMode.HALF_UP
    JBig.valueOf(ll).setScale(9, mode).movePointRight(9).longValueExact()
  }

  /** Per-doc KN perplexity — numerically identical to
    * [[graft.operators.LanguageModel.perplexityKneserNey]]'s
    * declarative plan: the probability is the same fixed IEEE tree
    * over exact-integer casts and the dyadic discount, ln `bround`ed
    * to 9 dp, exact davg, `bround(exp, 6)`. Null for docs with < 2
    * tokens (no bigrams — absent from the batch groupBy).
    */
  def perplexityKn(tokens: ArrayData, lm: KneserNeyLm,
      discount: Double): InternalRow = {
    val n = tokens.numElements()
    if (n < 2) return null
    var sumScaled = 0L
    var nFinite = 0L
    var i = 0
    while (i < n - 1) {
      val w1 = tokens.getUTF8String(i).toString
      val w2 = tokens.getUTF8String(i + 1).toString
      val n1b = lm.n1b(w2)
      val nbD = lm.nb.toDouble
      val pc = if (n1b > 0) n1b.toDouble / nbD else 0.5 / nbD
      val ctx = lm.ctx(w1)
      val p = if (ctx >= 0) {
        val ctxD = ctx.toDouble
        math.max(lm.count(w1, w2).toDouble - discount, 0.0) / ctxD +
          (discount * lm.n1f(w1).toDouble / ctxD) * pc
      } else pc
      val ll = math.log(p)
      if (java.lang.Double.isFinite(ll)) {
        sumScaled += scaled9(ll, halfEven = true); nFinite += 1
      }
      i += 1
    }
    finishRow((n - 1).toLong, sumScaled, nFinite, halfEven = true)
  }

  /** Per-doc interpolated-trigram perplexity — numerically identical
    * to [[graft.operators.LanguageModel.perplexityTrigram]]'s plan
    * (note: that path uses HALF_UP `round`, not `bround`). Null for
    * docs with < 3 tokens.
    */
  def perplexityTri(tokens: ArrayData, lm: TrigramLm,
      l3: Double, l2: Double, l1: Double): InternalRow = {
    val n = tokens.numElements()
    if (n < 3) return null
    var sumScaled = 0L
    var nFinite = 0L
    var i = 0
    while (i < n - 2) {
      val w1 = tokens.getUTF8String(i).toString
      val w2 = tokens.getUTF8String(i + 1).toString
      val w3 = tokens.getUTF8String(i + 2).toString
      val c3 = lm.cnt3(w1, w2, w3)
      val x3 = lm.ctx3(w1, w2)
      val p3 = if (c3 >= 0 && x3 >= 0) c3.toDouble / x3.toDouble else 0.0
      val c2 = lm.cnt2(w2, w3)
      val x2 = lm.ctx2(w2)
      val p2 = if (c2 >= 0 && x2 >= 0) c2.toDouble / x2.toDouble else 0.0
      val c1 = lm.cnt1(w3)
      val p1 = (c1 + 1L).toDouble / (lm.t + lm.v).toDouble
      val ll = math.log(l3 * p3 + l2 * p2 + l1 * p1)
      if (java.lang.Double.isFinite(ll)) {
        sumScaled += scaled9(ll, halfEven = false); nFinite += 1
      }
      i += 1
    }
    finishRow((n - 2).toLong, sumScaled, nFinite, halfEven = false)
  }
}

object LmExpressions {
  private val tokenArray = ArrayType(StringType)
  private def pplType(count: String, pplNullable: Boolean) = StructType(Seq(
    StructField(count, LongType, nullable = false),
    StructField("ppl", DoubleType, nullable = pplNullable)))

  /** Column API: score a token-array column under a trained model. */
  def bigramPpl(tokens: Column, lm: BigramLm): Column =
    Kernel.column("graft_bigram_ppl", LmKernel, "perplexity",
      pplType("n_bigrams", pplNullable = false), Seq(tokens), Seq(tokenArray), Seq(lm),
      returnNullable = true)
  def knPpl(tokens: Column, lm: KneserNeyLm, discount: Double): Column =
    Kernel.column("graft_kn_ppl", LmScoreKernels, "perplexityKn",
      pplType("n_bigrams", pplNullable = true), Seq(tokens), Seq(tokenArray),
      Seq(lm, discount), returnNullable = true)
  def triPpl(tokens: Column, lm: TrigramLm,
      l3: Double, l2: Double, l1: Double): Column =
    Kernel.column("graft_tri_ppl", LmScoreKernels, "perplexityTri",
      pplType("n_trigrams", pplNullable = true), Seq(tokens), Seq(tokenArray),
      Seq(lm, l3, l2, l1), returnNullable = true)
}
