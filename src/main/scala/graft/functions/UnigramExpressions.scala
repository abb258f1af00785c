package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A unigram-LM subword model (Kudo, "Subword Regularization", ACL
  * 2018 — the SentencePiece unigram algorithm's model shape) as a
  * PLAN-REFERENCE CONSTANT: piece → 9-dp-scaled-long neg-log-prob.
  * Model-sized by contract (inventory = corpus chars + top-K
  * substrings, a few hundred rows here, ≤ 32k in production — the
  * same budget as a SentencePiece .model file), collected once per
  * EM round and shipped inside generated code.
  *
  * Costs are SCALED LONGS (nlp × 1e9 as exact integers), so Viterbi
  * cost comparisons are integer-exact and the tie rule (longest
  * piece wins) is engine-reproducible — no float-sum drift between
  * Spark and the DuckDB oracle's replayed DP.
  *
  * Matching is over Java chars (UTF-16 code units), consistent with
  * engine-side `substring` on the BMP; supplementary-plane pieces
  * would need codepoint-aware slicing (the [[WordPieceVocab]]
  * documented limit).
  */
final class UnigramLmModel(
    pieces: Array[String],
    nlpScaled: Array[Long]) extends Serializable {
  require(pieces.length == nlpScaled.length,
    s"pieces/nlp length mismatch: ${pieces.length} vs ${nlpScaled.length}")

  /** Cost for an absent piece: far above any real path (a 30-char
    * word of worst-case real pieces stays < 30 × ~30·1e9 ≈ 1e12),
    * but n·BIG never overflows a long. Same literal in the oracle.
    */
  @transient lazy val map: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), nlpScaled(i)); i += 1 }
    m
  }
  @transient lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max
  def size: Int = pieces.length
}

object UnigramLmModel {
  /** Absent-piece cost (scaled): shared literal with the oracle. */
  val Big = 1000000000000000L
}

/** Viterbi segmentation (word STRING → pieces ARRAY<STRING>) under a
  * literal [[UnigramLmModel]]. Stateless and map-side (the
  * [[WordPieceKernel]] shape): tokenizer application is automatically
  * streaming-capable, and segmenting the DISTINCT-word table means the
  * corpus never re-segments.
  */
object UnigramKernel {
  /** Viterbi segmentation of one word under a [[UnigramLmModel]]:
    * cost[j] = min over piece length l of cost[j−l] + nlp(w[j−l, j)),
    * ties broken to the LONGEST piece (checked l descending with
    * strict improvement, so the largest l achieving the min wins —
    * the oracle's argmin CASE checks l=maxLen first, identically).
    * Absent pieces cost [[UnigramLmModel.Big]] — progress is always
    * possible via single chars, and a char unseen at train time
    * rides a Big-cost single-char piece deterministically.
    * O(n × maxLen) per word; returns the pieces in order.
    */
  def viterbi(word: UTF8String, model: UnigramLmModel): ArrayData = {
    val w = word.toString
    val n = w.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val maxL = model.maxLen
    val cost = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // chosen piece length ending at j
    var j = 1
    while (j <= n) {
      var bestCost = Long.MaxValue
      var bestL = 1
      var l = math.min(maxL, j)
      while (l >= 1) {
        val nlp = model.map.get(w.substring(j - l, j))
        val c = cost(j - l) + (if (nlp ne null) nlp.longValue() else UnigramLmModel.Big)
        // strict < with l descending → largest l keeps ties
        if (c < bestCost) { bestCost = c; bestL = l }
        l -= 1
      }
      cost(j) = bestCost
      back(j) = bestL
      j += 1
    }
    // backtrack
    var k = n
    var count = 0
    while (k > 0) { count += 1; k -= back(k) }
    val out = new Array[Any](count)
    k = n
    var idx = count - 1
    while (k > 0) {
      out(idx) = UTF8String.fromString(w.substring(k - back(k), k))
      idx -= 1
      k -= back(k)
    }
    new GenericArrayData(out)
  }
}

object UnigramExpressions {
  /** Column API: Viterbi-segment a word column under a trained model. */
  def unigramSegment(word: Column, model: UnigramLmModel): Column =
    Kernel.column("graft_unigram_segment", UnigramKernel, "viterbi",
      ArrayType(StringType, containsNull = false), Seq(word), Seq(StringType), Seq(model))
}
