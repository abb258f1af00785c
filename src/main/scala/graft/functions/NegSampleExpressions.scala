package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Negative-sampling draws from the unigram^(3/4) distribution
  * (Mikolov et al., NeurIPS 2013 §2.2 — the noise distribution that
  * made word2vec train; the same table drives NCE losses and
  * contrastive-pair mining over a corpus). Sampling is INVERSE-CDF
  * over the lexicographically-ordered vocabulary: draw k's uniform is
  * md5-48(seed ':' k)/2^48 (the engine's deterministic-uniform
  * device), scaled by the total weight, and the sampled word is the
  * FIRST (lex) word whose cumulative weight reaches it — exactly
  * replayable as a `MIN(word) WHERE cum >= t` join in SQL.
  *
  * Weight arithmetic: cnt^(3/4) is written sqrt(cnt)·sqrt(sqrt(cnt))
  * DELIBERATELY — IEEE-754 requires sqrt to be correctly rounded, so
  * the two-sqrt form is bit-identical across engines where a
  * libm pow() is not; the product rounds at 9 dp and the cumulative
  * sums are exact decimals.
  *
  * 100 TB shape: ONE vocab-sized aggregation; weights/cums collect at
  * model size (Heaps' law) and ride the kernel call as an
  * object-typed plan constant; each draw is an O(log V) binary
  * search — a pure per-row projection over the draw range, no join,
  * no shuffle.
  */
object NegSampleKernel {

  final class Model(val seed: String, val words: Array[String],
      val cums: Array[Double], val total: Double) extends Serializable {
    require(words.length == cums.length && words.nonEmpty, "bad model")
    @transient private lazy val utf8Words: Array[UTF8String] =
      words.map(UTF8String.fromString)

    /** Draw k → sampled word. */
    def sample(k: Long): UTF8String = {
      val u = SubsampleKernel.md5_48(seed + ":" + k) / 281474976710656.0
      val t = u * total
      // smallest index with cums(i) >= t
      var lo = 0
      var hi = cums.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cums(mid) >= t) hi = mid else lo = mid + 1
      }
      utf8Words(lo)
    }
  }

  /** [[Model.sample]] as a static call. */
  def sample(k: Long, model: Model): UTF8String = model.sample(k)
}

object NegSampleExpressions {
  /** `graft_neg_sample(k)` → the k-th negative sample. */
  def negSample(k: Column, model: NegSampleKernel.Model): Column =
    Kernel.column("graft_neg_sample", NegSampleKernel, "sample", StringType,
      Seq(k), Seq(LongType), Seq(model))
}
