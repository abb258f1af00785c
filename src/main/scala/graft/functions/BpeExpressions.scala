package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE segmentation kernel (`graft_bpe_segment`): word STRING
  * → ARRAY<STRING> of subword tokens under a LITERAL merge list (the
  * trained model — model-sized by contract, shipped to executors once
  * as a plan constant, not per row). The production BPE segmenter:
  * apply a learned merge list (rank order) to one word with the same
  * greedy left-to-right non-overlapping semantics as
  * [[graft.operators.BpeTrainer.applyMerges]]'s fold (the
  * equivalence is property-tested). One pass per merge over a
  * reusable buffer, O(K·|word|) with scalar-loop constants — the
  * nested-HOF form pays an interpreted lambda dispatch per (symbol ×
  * merge), which is the difference between "fine at 12 merges under
  * a test gate" and "usable at a 32k-merge production vocabulary".
  */
object BpeSegmentKernel {
  /** merges(k) = Array(left, right), already in rank order. */
  def segment(word: UTF8String, merges: Array[Array[String]]): ArrayData = {
    val str = word.toString
    // initial symbols = codepoints (same alphabet as split(w, ""))
    var syms = new java.util.ArrayList[String](str.length)
    var i = 0
    while (i < str.length) {
      val n = Character.charCount(str.codePointAt(i))
      syms.add(str.substring(i, i + n))
      i += n
    }
    var k = 0
    while (k < merges.length && syms.size > 1) {
      val l = merges(k)(0); val r = merges(k)(1)
      val out = new java.util.ArrayList[String](syms.size)
      var j = 0
      while (j < syms.size) {
        if (j + 1 < syms.size && syms.get(j) == l && syms.get(j + 1) == r) {
          out.add(l + r); j += 2
        } else { out.add(syms.get(j)); j += 1 }
      }
      syms = out
      k += 1
    }
    val arr = new Array[Any](syms.size)
    var m = 0
    while (m < syms.size) { arr(m) = UTF8String.fromString(syms.get(m)); m += 1 }
    new GenericArrayData(arr)
  }
}

object BpeExpressions {
  /** Column API: segment a word column with a learned merge list. */
  def bpeSegment(word: Column, merges: Seq[(String, String)]): Column =
    Kernel.column("graft_bpe_segment", BpeSegmentKernel, "segment",
      ArrayType(StringType, containsNull = false), Seq(word), Seq(StringType),
      Seq(merges.map(m => Array(m._1, m._2)).toArray))
}
