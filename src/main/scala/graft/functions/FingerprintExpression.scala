package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the document fingerprint (LLM-pipeline text
  * analysis, SURVEY.md §2.5).
  *
  * The composable formulation ([[Text.fingerprint]]) builds a
  * per-character array through `sequence`/`transform`/`aggregate` —
  * correct, but it allocates O(len) array elements per row and
  * evaluates lambdas interpretively. This kernel is a single tight
  * loop that runs inside whole-stage codegen.
  */
object FingerprintKernel {
  /** Σ_i codepoint(c_i)·((i mod 31)+1) mod (2³¹−1), i 1-based over
    * CODEPOINTS — exactly the semantics of [[Text.fingerprint]]'s
    * higher-order-function formulation (`length`/`substr`/`ascii` are
    * all codepoint-based).
    */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var sum = 0L
    var i = 0      // char (UTF-16) offset
    var cp = 1     // codepoint index, 1-BASED (matches sequence(1, length))
    while (i < str.length) {
      val c = str.codePointAt(i)
      sum += c.toLong * ((cp % 31) + 1)
      i += Character.charCount(c)
      cp += 1
    }
    sum % 2147483647L
  }
}

/** Registration: either inject at session build time via
  * `.withExtensions(new GraftExtensions)` /
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or call
  * [[GraftFunctions.register]] on a live session (the driver owns the
  * session in this harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

/** Column API for the fingerprint kernel — and the pattern every
  * native kernel follows. To add one:
  *  1. write the per-row work as a static method on a `*Kernels`
  *     object, taking Catalyst values (`UTF8String`, `ArrayData`,
  *     primitives) and any model constants;
  *  2. wrap it in one [[Kernel.column]] call in the matching
  *     `*Expressions` object (`graft_*` name, result type, input
  *     types, constants) — there is no per-kernel Expression class;
  *  3. add one row to `KernelEvalPathsSpec`, which runs the kernel
  *     under whole-stage codegen and interpreted and asserts both give
  *     the same rows.
  * A kernel is worth adding only where the built-in operators cannot
  * express the computation efficiently (the HOF spec stays the
  * reference it is tested against).
  */
object FingerprintExpression {
  def fingerprint(c: Column): Column =
    Kernel.column("graft_fingerprint", FingerprintKernel, "compute", LongType,
      Seq(c), Seq(StringType))
}

object GraftFunctions {
  private def descriptor(name: String, builder: Seq[Expression] => Column) =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[Kernel].getName, name),
      (c: Seq[Expression]) => ColumnBridge.expression(builder(c)))

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]
  private def strings(c: Seq[Expression]): Seq[String] = c.map(_.eval().toString)

  /** Every native graft expression, SQL-callable. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    descriptor("graft_fingerprint", c => FingerprintExpression.fingerprint(col(c.head))),
    descriptor("graft_minhash", c => HashExpressions.minhashSig(col(c.head), int(c(1)))),
    descriptor("graft_simhash64", c => HashExpressions.simhash64(col(c.head))),
    descriptor("graft_simhash_poly", c => HashExpressions.simhashPoly(col(c.head))),
    descriptor("graft_shingles", c => ShingleExpressions.shingles(col(c.head), int(c(1)))),
    descriptor("graft_jaccard", c => ShingleExpressions.jaccard(col(c.head), col(c(1)))),
    descriptor("graft_dot", c => DotExactExpression.dotFast(col(c.head), col(c(1)))),
    descriptor("graft_dot_exact", c => DotExactExpression.dotExact(col(c.head), col(c(1)))),
    descriptor("graft_tokens", c => TextExpressions.tokens(col(c.head))),
    descriptor("graft_count_in", c =>
      TextExpressions.countIn(col(c.head), strings(c.drop(1)))),
    descriptor("graft_i8_scale", c => QuantExpressions.i8Scale(col(c.head))),
    descriptor("graft_i8_quant", c => QuantExpressions.i8Quantize(col(c.head))),
    descriptor("graft_i8_dot", c => QuantExpressions.i8Dot(col(c.head), col(c(1)))),
    descriptor("graft_i8_abssum", c => QuantExpressions.i8AbsSum(col(c.head))),
    // graft_term_tfs(tokens, 'term', ...): per-term tf counts over a
    // token array in ONE pass (the q79 multi-term BM25 kernel)
    descriptor("graft_term_tfs", c =>
      TextExpressions.termTfs(col(c.head), strings(c.drop(1)))),
    // graft_deletion_neighborhood(str): FastSS deletion variants (the
    // q76 edit-distance-1 fuzzy-join candidate kernel)
    descriptor("graft_deletion_neighborhood", c =>
      FuzzyExpressions.deletionNeighborhood(col(c.head))),
    // graft_nfc(str): Unicode NFC normalization (the q88 canonical-
    // text kernel)
    descriptor("graft_nfc", c => NormExpressions.nfc(col(c.head))),
    // graft_cdc_chunks(text, divisor): content-defined chunking (the
    // q101 kernel)
    descriptor("graft_cdc_chunks", c => ChunkExpressions.cdcChunks(col(c.head), int(c(1)))),
    // graft_psl_domain(host): Public-Suffix-List registrable domain
    // (the q113 kernel; embedded snapshot table)
    descriptor("graft_psl_domain", c => Psl.registrableDomain(col(c.head))),
    // graft_bpe_segment(word, l1, r1, l2, r2, ...): BPE segmentation
    // under a literal merge list in rank order (the q102 kernel)
    descriptor("graft_bpe_segment", c => {
      val flat = c.drop(1)
      require(flat.nonEmpty && flat.size % 2 == 0,
        "graft_bpe_segment needs merge pairs: (word, left1, right1, ...)")
      BpeExpressions.bpeSegment(col(c.head),
        strings(flat).grouped(2).map(p => (p(0), p(1))).toSeq)
    }),
    // graft_wordpiece(word, piece1, piece2, ...): greedy longest-
    // match-first segmentation under a literal piece inventory (the
    // q123 kernel)
    descriptor("graft_wordpiece", c => {
      require(c.size >= 2, "graft_wordpiece needs (word, piece1, ...)")
      WordPieceExpressions.wordPiece(col(c.head),
        new WordPieceVocab(strings(c.drop(1)).toArray))
    }),
  )

  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
