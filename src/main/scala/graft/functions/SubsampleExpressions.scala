package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequency-aware token subsampling (Mikolov et al., "Distributed
  * Representations of Words and Phrases…", NeurIPS 2013 §2.3): a
  * token occurrence of word w survives with probability
  * min(1, sqrt(t / f(w))) — aggressive down-weighting of
  * ultra-frequent words ("the", boilerplate tokens) that contribute
  * many occurrences and almost no signal. The pretraining-data use is
  * token-budget reduction that preserves rare-word mass.
  *
  * Determinism contract (the DuckDB oracle replays every decision):
  * the survival draw for occurrence (doc, pos) is
  * `u = md5-48(seed ':' docKey ':' pos) / 2^48` — the engine's
  * standard deterministic-uniform device (q158's shuffle keys) — and
  * the keep threshold per word is `sqrt(t · total / cnt)` in IEEE
  * evaluated left-to-right, computed ONCE on the driver over the
  * vocabulary-sized frequency table and shipped as an
  * object-typed plan constant (the WordPiece-inventory /
  * BPE-merge collect precedent).
  *
  * 100 TB shape: ONE vocabulary-sized aggregation builds the model;
  * scoring is then a pure per-row projection (this kernel) — no
  * explode, no join, no reassembly shuffle; the corpus token stream
  * never leaves its partition.
  */
object SubsampleKernel {

  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 48 bits of md5(s) as an unsigned big-endian long — equal
    * to `conv(substring(md5(s), 1, 12), 16, 10)`.
    */
  private[functions] def md5_48(s: String): Long = {
    val d = Md5.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((h(0) & 0xffL) << 40) | ((h(1) & 0xffL) << 32) | ((h(2) & 0xffL) << 24) |
      ((h(3) & 0xffL) << 16) | ((h(4) & 0xffL) << 8) | (h(5) & 0xffL)
  }

  private final val Two48 = 281474976710656.0 // 2^48

  /** Vocabulary model: per-word keep threshold sqrt(t·total/cnt). */
  final class Model(val seed: String,
      val thr: java.util.HashMap[UTF8String, java.lang.Double])
    extends Serializable

  /** Walks the single-space tokens of `text` (the [[TextKernels
    * .tokens]] contract), keeping occurrence i (1-based) iff
    * `md5-48(seed ':' key ':' i)/2^48 < thr(word)`. Unknown words
    * (never possible when the model was fit on the same corpus) keep
    * unconditionally. Returns (sub_text, n_kept, n_tokens).
    */
  def subsample(text: UTF8String, key: UTF8String, model: Model): InternalRow = {
    val toks = TextKernels.tokens(text)
    val n = toks.numElements()
    val sb = new java.lang.StringBuilder
    var kept = 0
    var i = 0
    while (i < n) {
      val w = toks.getUTF8String(i)
      val t = model.thr.get(w)
      val keep = t == null || t.doubleValue() >= 1.0 || {
        val u = md5_48(model.seed + ":" + key.toString + ":" + (i + 1)) / Two48
        u < t.doubleValue()
      }
      if (keep) {
        if (kept > 0) sb.append(' ')
        sb.append(w.toString)
        kept += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), kept, n))
  }

  def toModel(seed: String, words: Array[String],
      thrs: Array[Double]): Model = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](words.length * 2)
    var i = 0
    while (i < words.length) {
      m.put(UTF8String.fromString(words(i)), java.lang.Double.valueOf(thrs(i)))
      i += 1
    }
    new Model(seed, m)
  }
}

object SubsampleExpressions {
  /** `graft_subsample(text, key)` → STRUCT<sub_text, n_kept, n_tokens>. */
  def subsample(text: Column, key: Column,
      model: SubsampleKernel.Model): Column =
    Kernel.column("graft_subsample", SubsampleKernel, "subsample", StructType(Seq(
        StructField("sub_text", StringType, nullable = false),
        StructField("n_kept", IntegerType, nullable = false),
        StructField("n_tokens", IntegerType, nullable = false))),
      Seq(text, key), Seq(StringType, StringType), Seq(model))
}
