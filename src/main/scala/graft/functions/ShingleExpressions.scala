package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for word-shingle construction and Jaccard
  * similarity — the two remaining interpreted HOF costs on the
  * near-dup hot path. Same set semantics as the composable
  * formulations (`NearDup.shinglesHof` / size-of-intersect ÷
  * size-of-union over distinct arrays); equivalence is unit-tested.
  */
object ShingleKernels {

  private val Space = UTF8String.fromString(" ")

  /** Distinct word n-grams in first-occurrence order; a single
    * under-n-tokens input yields one shingle of all tokens (matches
    * the HOF `when(size < n, ...)` branch).
    */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (cnt < n) {
      val all = new Array[UTF8String](cnt)
      var i = 0
      while (i < cnt) { all(i) = tokens.getUTF8String(i); i += 1 }
      seen.add(UTF8String.concatWs(Space, all: _*))
    } else {
      var i = 0
      val window = new Array[UTF8String](n)
      while (i + n <= cnt) {
        var j = 0
        while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
        seen.add(UTF8String.concatWs(Space, window: _*))
      i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Positional window hashes: element i = xxhash64 (seed 42, the
    * built-in expression's seed) of the space-joined `w`-token window
    * starting at token i — bit-identical by construction to the HOF
    * form `transform(sequence(0, greatest(n−w, 0)), i =>
    * xxhash64(concat_ws(" ", slice(tokens, i+1, w))))` (retained as
    * [[graft.operators.ExactSubstr.posWindowHashesHof]], the
    * executable spec): each window string is built with the same
    * concat-ws semantics, then hashed through the same
    * XxHash64Function entry the built-in expression uses. Under-w
    * inputs (including empty) yield ONE whole-input window, matching
    * sequence(0, greatest(n−w, 0)) = [0] with a short slice.
    */
  def windowHashes(tokens: ArrayData, w: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < w) {
      val all = new Array[UTF8String](cnt)
      var i = 0
      while (i < cnt) { all(i) = tokens.getUTF8String(i); i += 1 }
      new GenericArrayData(Array[Any](
        XxHash64Function.hash(UTF8String.concatWs(Space, all: _*), StringType, 42L)))
    } else {
      val out = new Array[Any](cnt - w + 1)
      val window = new Array[UTF8String](w)
      var i = 0
      while (i + w <= cnt) {
        var j = 0
        while (j < w) { window(j) = tokens.getUTF8String(i + j); j += 1 }
        out(i) = XxHash64Function.hash(
          UTF8String.concatWs(Space, window: _*), StringType, 42L)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** |A∩B| / max(|A∪B|, 1) over distinct string arrays. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val setA = new java.util.HashSet[UTF8String](math.max(16, na * 2))
    var i = 0
    while (i < na) { setA.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    val seenB = new java.util.HashSet[UTF8String](math.max(16, nb * 2))
    i = 0
    while (i < nb) {
      val s = b.getUTF8String(i)
      if (seenB.add(s) && setA.contains(s)) inter += 1
      i += 1
    }
    val union = setA.size + seenB.size - inter
    inter.toDouble / math.max(union, 1).toDouble
  }
}

object ShingleExpressions {
  private val tokenArray = ArrayType(StringType)

  def shingles(tokens: Column, n: Int): Column =
    Kernel.column("graft_shingles", ShingleKernels, "shingles",
      ArrayType(StringType, containsNull = false), Seq(tokens), Seq(tokenArray), Seq(n))
  def windowHashes(tokens: Column, w: Int): Column =
    Kernel.column("graft_window_hashes", ShingleKernels, "windowHashes",
      ArrayType(LongType, containsNull = false), Seq(tokens), Seq(tokenArray), Seq(w))
  def jaccard(a: Column, b: Column): Column =
    Kernel.column("graft_jaccard", ShingleKernels, "jaccard", DoubleType,
      Seq(a, b), Seq(tokenArray, tokenArray))
}
