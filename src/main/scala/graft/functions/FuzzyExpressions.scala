package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native deletion-1 neighborhood (FastSS blocking key generator) —
  * the codegen'd hot-path twin of [[graft.operators.FuzzyJoin
  * .deletionNeighborhood]]'s higher-order-function formulation, which
  * stays as the executable spec; the two are property-tested
  * identical, including astral-plane (surrogate-pair) codepoints
  * (`RetrievalFuzzyIncrementalSpec`, "kernel ≡ HOF"). The HOF form
  * allocates a position array and evaluates interpreted lambdas per
  * element; this is one linear scan per row, and it is what
  * [[graft.operators.FuzzyJoin.editDistance1Pairs]] plants in the
  * candidate-generation hot path.
  */
object DeletionNeighborhoodKernel {
  /** The FastSS deletion-1 neighborhood of `s`: `s` itself followed by
    * each single-CODEPOINT deletion in position order, first-occurrence
    * deduped — exactly the element set and order of the composable
    * form `array_union(array(s), transform(sequence(1, length(s)),
    * i -> concat(substr(s, 1, i-1), substr(s, i+1, length(s)))))`
    * ([[graft.operators.FuzzyJoin.deletionNeighborhood]]): Spark's
    * `length`/`substr` count codepoints, and `array_union` keeps first
    * occurrences in encounter order.
    */
  def compute(s: UTF8String): GenericArrayData = {
    val str = s.toString
    // codepoint boundaries (UTF-16 offsets)
    val n = str.codePointCount(0, str.length)
    val out = new java.util.ArrayList[UTF8String](n + 1)
    val seen = new java.util.HashSet[String](2 * (n + 1))
    seen.add(str)
    out.add(s)
    var i = 0 // UTF-16 offset of the codepoint being deleted
    while (i < str.length) {
      val step = Character.charCount(str.codePointAt(i))
      val variant = str.substring(0, i) + str.substring(i + step)
      if (seen.add(variant)) out.add(UTF8String.fromString(variant))
      i += step
    }
    new GenericArrayData(out.toArray)
  }
}

object FuzzyExpressions {
  /** Column API for the native kernel; variants are never null, and
    * dedup guarantees distinct elements.
    */
  def deletionNeighborhood(c: Column): Column =
    Kernel.column("graft_deletion_neighborhood", DeletionNeighborhoodKernel, "compute",
      ArrayType(StringType, containsNull = false), Seq(c), Seq(StringType))
}
