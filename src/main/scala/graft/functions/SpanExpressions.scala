package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for ExactSubstr span removal (Lee et al., "Dedup-
  * licating Training Data Makes Language Models Better", ACL 2022):
  * given a document's tokens and the sorted start positions of its
  * duplicated `windowTokens`-token windows, remove every token
  * covered by at least one duplicated window and re-emit the cleaned
  * text. The interval union runs as a difference-array sweep —
  * O(tokens + positions) per document, no quadratic HOF fold (the
  * CdcChunkKernel/BpeSegmentKernel promotion rule). Stateless and
  * map-side: the heavy work (finding duplicated windows) happens in
  * the surrounding plan; this kernel only merges intervals and
  * rebuilds the string.
  */
object SpanKernels {

  private val Space = UTF8String.fromString(" ")

  /** Remove the union of [p, p+k) spans from `tokens`.
    * Returns (clean_text, n_tokens = original count, n_removed,
    * n_spans = maximal merged removed intervals). Spans clip at the
    * document end (the under-k-tokens whole-doc window is a span at
    * position 0). Cleaned text re-joins survivors with single
    * spaces — canonical at token granularity, same normalization the
    * window construction itself applies.
    */
  def removeSpans(tokens: ArrayData, positions: ArrayData, k: Int): InternalRow = {
    val n = tokens.numElements()
    val np = positions.numElements()
    // difference array: +1 at span start, -1 past span end
    val diff = new Array[Int](n + 1)
    var i = 0
    while (i < np) {
      val p = positions.getInt(i)
      if (p >= 0 && p < n) {
        diff(p) += 1
        diff(math.min(p + k, n)) -= 1
      }
      i += 1
    }
    var cur = 0
    var removed = 0L
    var spans = 0L
    var prevRemoved = false
    val kept = new java.util.ArrayList[UTF8String](n)
    var j = 0
    while (j < n) {
      cur += diff(j)
      val isRemoved = cur > 0
      if (isRemoved) {
        removed += 1
        if (!prevRemoved) spans += 1
      } else {
        kept.add(tokens.getUTF8String(j))
      }
      prevRemoved = isRemoved
      j += 1
    }
    val clean = UTF8String.concatWs(Space, kept.toArray(new Array[UTF8String](kept.size())): _*)
    new GenericInternalRow(Array[Any](clean, n.toLong, removed, spans))
  }
}

object SpanExpressions {
  /** Column API: remove the union of duplicated-window spans —
    * (tokens ARRAY<STRING>, dup-window start positions ARRAY<INT>) →
    * STRUCT(clean_text STRING, n_tokens BIGINT, n_removed BIGINT,
    * n_spans BIGINT) under a literal window width.
    */
  def removeDupSpans(tokens: Column, positions: Column, windowTokens: Int): Column =
    Kernel.column("graft_remove_dup_spans", SpanKernels, "removeSpans", StructType(Seq(
        StructField("clean_text", StringType, nullable = false),
        StructField("n_tokens", LongType, nullable = false),
        StructField("n_removed", LongType, nullable = false),
        StructField("n_spans", LongType, nullable = false))),
      Seq(tokens, positions), Seq(ArrayType(StringType), ArrayType(IntegerType)),
      Seq(windowTokens))
}
