package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for tokenization and marker-set counting.
  *
  * Why native and not HOF: Spark's whole-stage-codegen subexpression
  * elimination EXCLUDES any subtree containing a lambda
  * (NamedLambdaVariable), so a projection computing seven token-derived
  * metrics re-splits the text seven times when `tokens` is the
  * `filter(split(...))` HOF. As a plain [[Kernel]] call the shared
  * `graft_tokens(text)` subtree is CSE-deduped to ONE evaluation per
  * row — the difference is ~2.5× on the q18 text-analysis query.
  * Semantics are bit-identical to the HOF formulations kept as
  * executable specs ([[graft.functions.Text.tokensHof]] /
  * marker-filter counts); equivalence is unit-tested.
  */
object TextKernels {

  /** Single-space tokenization, empties dropped — same output as
    * `filter(split(text, " "), t -> length(t) > 0)`. Byte scan: a
    * space is the single byte 0x20 in UTF-8 and cannot occur inside a
    * multi-byte sequence, so slicing on space bytes is unicode-safe.
    */
  def tokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Number of array elements contained in `set`. */
  def countIn(tokens: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = tokens.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (set.contains(tokens.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def toSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** tf vector aligned to a fixed term list: out(i) = occurrences of
    * term i in `tokens`. ONE scan with an O(1) hash probe per token —
    * per-row cost O(dl + T), vs the O(dl · T) of evaluating T separate
    * `size(filter(toks, _ == t))` HOFs (each re-walks the whole token
    * array, and lambda subtrees are excluded from codegen CSE). This
    * is what keeps multi-term BM25 ([[graft.operators.Retrieval]])
    * flat in the query-term count.
    */
  def termTfs(tokens: ArrayData,
              idx: java.util.HashMap[UTF8String, Integer],
              nTerms: Int): ArrayData = {
    val counts = new Array[Long](nTerms)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val slot = idx.get(tokens.getUTF8String(i))
      if (slot != null) counts(slot.intValue) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }

  def toIndex(terms: Seq[String]): java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.size * 2)
    terms.zipWithIndex.foreach { case (t, i) => m.put(UTF8String.fromString(t), i) }
    m
  }
}

object TextExpressions {
  private val tokenArray = ArrayType(StringType)

  def tokens(text: Column): Column =
    Kernel.column("graft_tokens", TextKernels, "tokens",
      ArrayType(StringType, containsNull = false), Seq(text), Seq(StringType))
  def countIn(tokens: Column, words: Seq[String]): Column =
    Kernel.column("graft_count_in", TextKernels, "countIn", IntegerType,
      Seq(tokens), Seq(tokenArray), Seq(TextKernels.toSet(words)))
  /** Per-row term-frequency vector over a FIXED term list (the BM25
    * query terms): `ARRAY<BIGINT>` aligned to `terms` order. Terms must
    * be distinct — duplicate slots would silently split counts.
    */
  def termTfs(tokens: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"graft_term_tfs needs a non-empty, duplicate-free term list, got $terms")
    Kernel.column("graft_term_tfs", TextKernels, "termTfs",
      ArrayType(LongType, containsNull = false), Seq(tokens), Seq(tokenArray),
      Seq(TextKernels.toIndex(terms), terms.size))
  }
}
