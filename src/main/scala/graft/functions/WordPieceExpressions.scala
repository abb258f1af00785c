package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A subword piece inventory as a PLAN-REFERENCE CONSTANT for greedy
  * longest-match-first segmentation — the WordPiece algorithm family
  * (Song et al., "Fast WordPiece Tokenization", EMNLP 2021: greedy
  * longest prefix at each position; BERT's tokenizer minus the `##`
  * continuation marking, which is a display convention). Model-sized
  * by contract (a 32k-piece vocab is ~1 MB), collected once and
  * shipped inside generated code like a tokenizer file.
  *
  * Matching is over Java chars (UTF-16 code units) on BOTH the piece
  * table and the word — consistent on the BMP; supplementary-plane
  * pieces would need codepoint-aware slicing (documented limit).
  */
final class WordPieceVocab(pieces: Array[String]) extends Serializable {
  @transient lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](pieces.length * 2)
    pieces.foreach(s.add)
    s
  }
  @transient lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max
}

/** Segmentation (word STRING → pieces ARRAY<STRING>) under a literal
  * [[WordPieceVocab]]. Stateless and map-side — tokenizer application
  * is automatically streaming-capable, and segmenting the
  * DISTINCT-word table (a pure function of the word) means the corpus
  * never re-segments (the q102 rollup shape).
  */
object WordPieceKernel {
  /** Greedy longest-match segmentation of one word: at each position
    * take the LONGEST vocab piece starting there (≤ maxLen chars);
    * when nothing matches, emit the single character itself as an
    * UNK-fallback piece (guaranteed progress; a vocab containing all
    * single characters never falls back). Deterministic: the choice
    * at each position is unique.
    */
  def segment(word: UTF8String, vocab: WordPieceVocab): ArrayData = {
    val w = word.toString
    val n = w.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.max(4, n / 2))
    var pos = 0
    while (pos < n) {
      var l = math.min(vocab.maxLen, n - pos)
      var hit = 0
      while (l >= 1 && hit == 0) {
        if (vocab.set.contains(w.substring(pos, pos + l))) hit = l else l -= 1
      }
      val take = if (hit > 0) hit else 1 // UNK fallback: the char itself
      out += UTF8String.fromString(w.substring(pos, pos + take))
      pos += take
    }
    new GenericArrayData(out.toArray)
  }
}

object WordPieceExpressions {
  /** Column API: segment a word column under a piece inventory. */
  def wordPiece(word: Column, vocab: WordPieceVocab): Column =
    Kernel.column("graft_wordpiece", WordPieceKernel, "segment",
      ArrayType(StringType, containsNull = false), Seq(word), Seq(StringType), Seq(vocab))
}
