package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for ADJACENT-token n-gram streams — the fit-side
  * corpus scans of the LM trainers (LanguageModel bigram/trigram
  * counts), PMI collocations, and the DSIR uni+bigram featurizer.
  * Each replaces an interpreted `zip_with(slice(t,1,n−1),
  * slice(t,2,n−1), ...)` tree (excluded from whole-stage codegen; two
  * Catalyst array copies per row plus one lambda invocation per
  * n-gram) with one codegen array pass. The replaced HOF trees are
  * retained as executable specs next to their operators
  * ([[graft.operators.LanguageModel.bigramsHof]] /
  * [[graft.operators.LanguageModel.trigramsHof]] /
  * [[graft.operators.Dsir.bigramStringsHof]]) and NgramKernelSpec
  * locks each kernel bit-identical to its tree.
  *
  * Contract notes, shared by all three: a document with fewer than n
  * tokens yields an EMPTY array (the slices are empty — unlike the
  * shingle kernels, there is no whole-document fallback window), and
  * a null token array yields null (the zip_with tree is null-safe the
  * same way).
  */
object NgramKernels {

  private val Space = UTF8String.fromString(" ")

  /** Adjacent pairs as structs: element i = (t[i], t[i+1]). */
  def pairs(tokens: ArrayData): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt - 1)
    var prev = tokens.getUTF8String(0)
    var i = 1
    while (i < cnt) {
      val cur = tokens.getUTF8String(i)
      out(i - 1) = new GenericInternalRow(Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent triples as structs: element i = (t[i], t[i+1], t[i+2]). */
  def triples(tokens: ArrayData): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt - 2)
    var a = tokens.getUTF8String(0)
    var b = tokens.getUTF8String(1)
    var i = 2
    while (i < cnt) {
      val c = tokens.getUTF8String(i)
      out(i - 2) = new GenericInternalRow(Array[Any](a, b, c))
      a = b; b = c
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent space-joined n-gram STRINGS (positional, non-distinct).
    * A window containing a null token yields a null element — the
    * `concat(a, " ", b)` tree is null-intolerant, unlike concat_ws
    * (tokenizers here never emit null tokens; the case is covered for
    * bit-parity only).
    */
  def joined(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i + n <= cnt) {
      var j = 0
      var anyNull = false
      while (j < n) {
        val s = tokens.getUTF8String(i + j)
        if (s == null) anyNull = true
        window(j) = s
        j += 1
      }
      out(i) = if (anyNull) null else UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object NgramExpressions {
  private val tokenArray = ArrayType(StringType)

  def tokenPairs(tokens: Column): Column =
    Kernel.column("graft_token_pairs", NgramKernels, "pairs", ArrayType(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType))),
        containsNull = false), Seq(tokens), Seq(tokenArray))
  def tokenTriples(tokens: Column): Column =
    Kernel.column("graft_token_triples", NgramKernels, "triples", ArrayType(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType),
        StructField("w3", StringType))), containsNull = false), Seq(tokens), Seq(tokenArray))
  def tokenNgramStrings(tokens: Column, n: Int): Column =
    Kernel.column("graft_token_ngram_strings", NgramKernels, "joined",
      ArrayType(StringType, containsNull = true), Seq(tokens), Seq(tokenArray), Seq(n))
}
