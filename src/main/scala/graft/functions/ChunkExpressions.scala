package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native content-defined chunking (`graft_cdc_chunks`: text STRING →
  * ARRAY<STRING> of chunks under local fingerprint boundaries —
  * [[graft.operators.Chunker.chunkContentDefined]]'s semantics) as
  * ONE linear pass: tokenize (the [[TextKernels.tokens]] byte scan),
  * fingerprint each token ([[FingerprintKernel.compute]] — the same
  * recurrence the HOF form and the DuckDB oracle use), close a chunk
  * at each `fp ≡ 0 (mod divisor)` boundary.
  *
  * Why a kernel: the composable `aggregate` fold rebuilds its
  * accumulator array on every token (`concat(acc, array(x))` — a
  * copy of everything accumulated so far), which is O(tokens²)
  * per document. Fine under a test gate on 100-token rows; wrong for
  * the multi-KB web documents CDC exists for. This pass is O(tokens)
  * with a single reused builder, and stays inside whole-stage
  * codegen. Equivalence to the fold is property-tested.
  */
object CdcChunkKernel {
  def chunks(text: UTF8String, divisor: Int): ArrayData = {
    val toks = TextKernels.tokens(text)
    val n = toks.numElements()
    val out = new java.util.ArrayList[Any]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (sb.length > 0) sb.append(' ')
      sb.append(t.toString)
      if (FingerprintKernel.compute(t) % divisor == 0) {
        out.add(UTF8String.fromString(sb.toString)); sb.setLength(0)
      }
      i += 1
    }
    if (sb.length > 0) out.add(UTF8String.fromString(sb.toString))
    new GenericArrayData(out.toArray)
  }
}

object ChunkExpressions {
  /** Column API for the native CDC chunker. */
  def cdcChunks(text: Column, divisor: Int): Column = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    Kernel.column("graft_cdc_chunks", CdcChunkKernel, "chunks",
      ArrayType(StringType, containsNull = false), Seq(text), Seq(StringType), Seq(divisor))
  }
}
